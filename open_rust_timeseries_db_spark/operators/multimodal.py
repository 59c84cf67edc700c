"""Multimodal-column plumbing: opaque payloads + typed metadata.

The reference stores every value as opaque bytes (``Box<[u8]>``,
reference src/storage/table.rs:27) and leaves interpretation to the
consumer (reference src/tests/integration_test.rs:247-249). This module
is that model made first-class for image/audio/video payloads at 100 TB:

- payloads are ``BinaryType`` columns with typed metadata alongside;
- decode / feature-extraction runs as Arrow-batched ``mapInPandas``
  (one Python process per partition, columnar transfer — never
  row-at-a-time UDFs);
- :func:`decode_image` is a REAL decoder for the one raster format the
  standard library can carry without codec packages: PNG (zlib inflate
  + per-spec unfiltering in numpy). PIL/opencv/ffmpeg are not in this
  container, so formats that need them (JPEG/video) raise ValueError
  with a clear message; :func:`frame_features` demonstrates the
  identical plumbing with a deterministic hash-per-frame "decoder"
  that a SQL oracle can verify.

Scale notes: ``mapInPandas`` preserves partitioning (no shuffle); frame
explosion multiplies rows ~n_frames×, so callers should size
``spark.sql.files.maxPartitionBytes`` such that post-explosion batches
fit executor memory. Feature extraction is embarrassingly parallel.
"""

from __future__ import annotations

import hashlib
import struct
import zlib
from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import types as T

if TYPE_CHECKING:  # pragma: no cover
    import numpy as np
    import pandas as pd

FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.LongType()),
        T.StructField("frame_md5", T.StringType()),
        T.StructField("frame_len", T.LongType()),
    ]
)

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# color type -> samples per pixel (8-bit depth, non-interlaced support)
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def decode_image(payload: bytes) -> "np.ndarray":
    """Decode an 8-bit non-interlaced PNG to (H, W, C) uint8.

    A real decoder, not a stub: stdlib ``zlib`` inflates the IDAT
    stream and the five PNG scanline filters (None/Sub/Up/Average/
    Paeth, PNG spec §9) are reversed exactly. Supports color types
    0 (gray), 2 (RGB), 4 (gray+alpha), 6 (RGBA) at bit depth 8 —
    what an encoder without a palette writes. Anything else (palette,
    16-bit, interlaced, or a non-PNG container like JPEG) raises
    ``ValueError`` with the reason, so a caller can keep such rows as
    data instead of failing the job.

    Unfiltering is sequential by definition (each scanline references
    the previous), row-vectorized in numpy: Up is one vector add; Sub/
    Average/Paeth walk pixels within the row. Throughput is plenty for
    feature extraction; a cluster with codec wheels can swap this out
    without touching its callers.
    """
    import numpy as np

    if not payload or not payload.startswith(_PNG_SIG):
        raise ValueError("not a PNG payload (bad signature)")
    pos = len(_PNG_SIG)
    width = height = None
    channels = None
    idat = bytearray()
    while pos + 8 <= len(payload):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        pos += 12 + length  # len + type + data + crc
        if ctype == b"IHDR":
            if len(data) < 13:
                raise ValueError("truncated IHDR chunk")
            width, height, depth, color, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", data[:13]
            )
            if depth != 8:
                raise ValueError(f"unsupported PNG bit depth {depth}")
            if color not in _PNG_CHANNELS:
                raise ValueError(f"unsupported PNG color type {color}")
            if interlace:
                raise ValueError("interlaced PNG unsupported")
            channels = _PNG_CHANNELS[color]
        elif ctype == b"IDAT":
            idat.extend(data)
        elif ctype == b"IEND":
            break
    if width is None or channels is None:
        raise ValueError("PNG missing IHDR")
    try:
        inflated = zlib.decompress(bytes(idat))
    except zlib.error as e:
        # Truncated/corrupt IDAT streams must honor the documented
        # contract (ValueError), so callers that key ok=false rows on
        # it never fail a task on a zlib.error they didn't expect.
        raise ValueError(f"PNG IDAT inflate failed: {e}") from e
    raw = np.frombuffer(inflated, dtype=np.uint8)
    stride = width * channels
    if len(raw) != height * (stride + 1):
        raise ValueError("PNG IDAT length mismatch")
    raw = raw.reshape(height, stride + 1)
    filters = raw[:, 0]
    out = np.zeros((height, stride), dtype=np.uint8)
    bpp = channels
    for y in range(height):
        line = raw[y, 1:].astype(np.int32)
        prev = out[y - 1].astype(np.int32) if y else np.zeros(stride, np.int32)
        f = filters[y]
        if f == 0:  # None
            cur = line
        elif f == 1:  # Sub
            cur = line.copy()
            for x in range(bpp, stride):
                cur[x] = (cur[x] + cur[x - bpp]) & 0xFF
        elif f == 2:  # Up
            cur = (line + prev) & 0xFF
        elif f == 3:  # Average
            cur = line.copy()
            for x in range(stride):
                left = cur[x - bpp] if x >= bpp else 0
                cur[x] = (cur[x] + ((left + prev[x]) >> 1)) & 0xFF
        elif f == 4:  # Paeth
            cur = line.copy()
            for x in range(stride):
                a = cur[x - bpp] if x >= bpp else 0
                b = prev[x]
                c = prev[x - bpp] if x >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                if pa <= pb and pa <= pc:
                    pred = a
                elif pb <= pc:
                    pred = b
                else:
                    pred = c
                cur[x] = (cur[x] + pred) & 0xFF
        else:
            raise ValueError(f"bad PNG filter type {f}")
        out[y] = cur.astype(np.uint8)
    return out.reshape(height, width, channels)


def encode_png(img: "np.ndarray") -> bytes:
    """Encode (H, W, C) uint8 (C in 1/2/3/4) as a minimal PNG
    (filter 0 scanlines, one zlib IDAT). The deterministic test/fixture
    twin of :func:`decode_image`."""
    import numpy as np

    img = np.ascontiguousarray(img, dtype=np.uint8)
    if img.ndim == 2:
        img = img[:, :, None]
    h, w, c = img.shape
    color = {1: 0, 2: 4, 3: 2, 4: 6}[c]

    def chunk(ctype: bytes, data: bytes) -> bytes:
        crc = zlib.crc32(ctype + data) & 0xFFFFFFFF
        return struct.pack(">I", len(data)) + ctype + data + struct.pack(">I", crc)

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    scan = b"".join(b"\x00" + img[y].tobytes() for y in range(h))
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(scan, 6))
        + chunk(b"IEND", b"")
    )


def frame_features(
    df: DataFrame,
    payload_col: str = "text",
    id_col: str = "doc_id",
    frame_chars: int = 64,
    every_k: int = 3,
) -> DataFrame:
    """Frame-sample an opaque payload column and fingerprint each frame.

    Models video frame-sampling: split each payload into fixed-size
    frames, keep every ``every_k``-th, emit a deterministic md5
    "feature" per kept frame. Runs as Arrow-batched ``mapInPandas`` —
    the exact shape a real decode/resize/embed stage would use.
    """

    def extract(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for batch in batches:
            ids: list[int] = []
            idxs: list[int] = []
            hashes: list[str] = []
            lens: list[int] = []
            for doc_id, payload in zip(batch[id_col], batch[payload_col]):
                if payload is None:
                    continue
                n_frames = -(-len(payload) // frame_chars)  # ceil div
                for i in range(0, n_frames, every_k):
                    frame = payload[i * frame_chars : (i + 1) * frame_chars]
                    ids.append(doc_id)
                    idxs.append(i)
                    hashes.append(hashlib.md5(frame.encode("utf-8")).hexdigest())
                    lens.append(len(frame))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int64"),
                    "frame_md5": pd.Series(hashes, dtype="object"),
                    "frame_len": pd.Series(lens, dtype="int64"),
                }
            )

    return df.select(id_col, payload_col).mapInPandas(extract, FRAME_SCHEMA)


def decode_audio(payload: bytes) -> "tuple[np.ndarray, int]":
    """Decode a RIFF/WAVE PCM payload to (samples, sample_rate).

    Real decoder for the audio format that needs no codec package:
    canonical WAV with integer PCM (8-bit unsigned or 16-bit signed
    little-endian), any channel count — returned as an (n_frames,
    n_channels) int32 array. Compressed formats (MP3/AAC/float WAV)
    raise ``ValueError``; like :func:`decode_image`, callers surface
    those rows as ok=false data instead of failing the task.
    """
    import numpy as np

    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos = 12
    fmt = None
    data = None
    while pos + 8 <= len(payload):
        ctype = payload[pos : pos + 4]
        (length,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        body = payload[pos + 8 : pos + 8 + length]
        pos += 8 + length + (length & 1)  # chunks are word-aligned
        if ctype == b"fmt ":
            if len(body) < 16:
                raise ValueError("truncated fmt chunk")
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif ctype == b"data":
            data = body
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    audio_format, n_channels, sample_rate, _, _, bits = fmt
    if audio_format != 1:
        raise ValueError(f"unsupported WAV format code {audio_format} (PCM only)")
    if bits == 16:
        samples = np.frombuffer(data, dtype="<i2").astype(np.int32)
    elif bits == 8:
        samples = np.frombuffer(data, dtype=np.uint8).astype(np.int32) - 128
    else:
        raise ValueError(f"unsupported WAV bit depth {bits}")
    n_frames = len(samples) // n_channels
    return samples[: n_frames * n_channels].reshape(n_frames, n_channels), sample_rate


def encode_wav(
    samples: "np.ndarray", sample_rate: int = 16_000, bits: int = 16
) -> bytes:
    """Encode an (n_frames, n_channels) integer array as canonical
    PCM WAV — the deterministic test/fixture twin of
    :func:`decode_audio`."""
    import numpy as np

    samples = np.asarray(samples)
    if samples.ndim == 1:
        samples = samples[:, None]
    n_frames, n_channels = samples.shape
    if bits == 16:
        raw = samples.astype("<i2").tobytes()
    elif bits == 8:
        raw = (samples + 128).astype(np.uint8).tobytes()
    else:
        raise ValueError("bits must be 8 or 16")
    byte_rate = sample_rate * n_channels * (bits // 8)
    block_align = n_channels * (bits // 8)
    fmt = struct.pack(
        "<HHIIHH", 1, n_channels, sample_rate, byte_rate, block_align, bits
    )
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(raw)) + raw
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body
