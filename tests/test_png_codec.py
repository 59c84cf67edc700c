"""PNG codec correctness: decode_image is a real decoder.

Covers every scanline filter type (forward-filtering reimplemented
here independently, straight from the PNG spec §9), the four supported
color types and malformed-input rejection.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from open_rust_timeseries_db_spark.operators.multimodal import (
    _PNG_SIG,
    decode_image,
    encode_png,
)


def _rng_img(h, w, c, seed=7):
    rng = np.random.RandomState(seed)
    img = rng.randint(0, 256, size=(h, w, c), dtype=np.uint8)
    return img if c > 1 else img.reshape(h, w, 1)


@pytest.mark.parametrize("channels", [1, 2, 3, 4])
def test_roundtrip_all_color_types(channels):
    img = _rng_img(13, 9, channels, seed=channels)
    out = decode_image(encode_png(img))
    assert out.shape == (13, 9, channels)
    assert np.array_equal(out, img)


def _chunk(ctype: bytes, data: bytes) -> bytes:
    crc = zlib.crc32(ctype + data) & 0xFFFFFFFF
    return struct.pack(">I", len(data)) + ctype + data + struct.pack(">I", crc)


def _forward_filter(img: np.ndarray, ftype: int) -> bytes:
    """Forward-apply one PNG filter to every scanline (spec §9) —
    an independent reimplementation the decoder must invert."""
    h, w, c = img.shape
    stride = w * c
    flat = img.reshape(h, stride).astype(np.int32)
    out = bytearray()
    for y in range(h):
        cur = flat[y]
        prev = flat[y - 1] if y else np.zeros(stride, np.int32)
        line = np.empty(stride, np.int32)
        for x in range(stride):
            a = cur[x - c] if x >= c else 0  # left
            b = prev[x]  # up
            cc = prev[x - c] if x >= c else 0  # upper-left
            if ftype == 0:
                pred = 0
            elif ftype == 1:
                pred = a
            elif ftype == 2:
                pred = b
            elif ftype == 3:
                pred = (a + b) >> 1
            else:  # Paeth
                p = a + b - cc
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else cc)
            line[x] = (cur[x] - pred) & 0xFF
        out.append(ftype)
        out.extend(line.astype(np.uint8).tobytes())
    return bytes(out)


@pytest.mark.parametrize("ftype", [0, 1, 2, 3, 4])
def test_decode_inverts_every_filter_type(ftype):
    img = _rng_img(8, 6, 3, seed=40 + ftype)
    ihdr = struct.pack(">IIBBBBB", 6, 8, 8, 2, 0, 0, 0)
    payload = (
        _PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(_forward_filter(img, ftype)))
        + _chunk(b"IEND", b"")
    )
    assert np.array_equal(decode_image(payload), img)


def test_rejects_malformed():
    with pytest.raises(ValueError, match="signature"):
        decode_image(b"JFIF not a png")
    # Palette color type (3) is not supported.
    ihdr = struct.pack(">IIBBBBB", 4, 4, 8, 3, 0, 0, 0)
    bad = _PNG_SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IEND", b"")
    with pytest.raises(ValueError, match="color type"):
        decode_image(bad)
    # 16-bit depth is not supported.
    ihdr16 = struct.pack(">IIBBBBB", 4, 4, 16, 2, 0, 0, 0)
    bad16 = _PNG_SIG + _chunk(b"IHDR", ihdr16) + _chunk(b"IEND", b"")
    with pytest.raises(ValueError, match="bit depth"):
        decode_image(bad16)


def test_truncated_chunks_raise_valueerror_not_struct_error():
    # Valid signature + IHDR declaring 13 bytes but carrying only 4:
    # must surface as ValueError (ok=false data downstream), never
    # struct.error, which would fail the whole Spark task.
    trunc = _PNG_SIG + _chunk(b"IHDR", struct.pack(">I", 4))
    with pytest.raises(ValueError, match="truncated IHDR"):
        decode_image(trunc)
    # WAV with a truncated fmt chunk (4 of 16 bytes), same contract.
    from open_rust_timeseries_db_spark.operators.multimodal import decode_audio

    body = struct.pack("<HH", 1, 1)
    wav = (b"RIFF" + struct.pack("<I", 4 + 8 + len(body)) + b"WAVE"
           + b"fmt " + struct.pack("<I", len(body)) + body)
    with pytest.raises(ValueError, match="truncated fmt"):
        decode_audio(wav)


def test_wav_roundtrip_16bit_stereo():
    from open_rust_timeseries_db_spark.operators.multimodal import (
        decode_audio,
        encode_wav,
    )

    rng = np.random.RandomState(11)
    wave = rng.randint(-32768, 32768, size=(100, 2)).astype(np.int16)
    out, rate = decode_audio(encode_wav(wave, sample_rate=44_100))
    assert rate == 44_100 and out.shape == (100, 2)
    assert np.array_equal(out, wave.astype(np.int32))


def test_wav_8bit_and_rejection():
    from open_rust_timeseries_db_spark.operators.multimodal import (
        decode_audio,
        encode_wav,
    )

    wave = np.arange(-128, 128, dtype=np.int64).reshape(-1, 1)
    out, rate = decode_audio(encode_wav(wave, sample_rate=8000, bits=8))
    assert np.array_equal(out.ravel(), wave.ravel())
    with pytest.raises(ValueError, match="RIFF"):
        decode_audio(b"ID3 not a wav file")
    # float WAV (format code 3) rejected
    import struct as _s

    fmt = _s.pack("<HHIIHH", 3, 1, 8000, 32000, 4, 32)
    body = (b"WAVE" + b"fmt " + _s.pack("<I", len(fmt)) + fmt
            + b"data" + _s.pack("<I", 0))
    with pytest.raises(ValueError, match="format code"):
        decode_audio(b"RIFF" + _s.pack("<I", len(body)) + body)
