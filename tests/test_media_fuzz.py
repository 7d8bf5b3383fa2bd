"""Seeded mutation fuzz across every raw media decoder.

The decode seam's contract is decode-or-``UnsupportedMediaError``: a
hostile web corpus must never surface parse-layer exceptions
(struct.error / IndexError / zlib.error / ValueError) from a raw decoder
— ``builtin_decoder``'s catch-all is a safety net, not a license. Each
seed is a spec-valid payload from this suite's independent scalar
encoders; mutations are byte flips, truncations, and garbage splices
from a fixed RNG so failures replay exactly.
"""

import zlib

import numpy as np
import pytest

from mitie_spark.operators.gif import decode_gif_frames
from mitie_spark.operators.jpeg import decode_jpeg
from mitie_spark.operators.media_codecs import (
    UnsupportedMediaError,
    decode_bmp,
    decode_png,
    decode_pnm,
    decode_wav,
    encode_bmp,
    encode_png,
    encode_pnm,
    encode_wav,
)
from mitie_spark.operators.mp4 import encode_mp4, parse_mp4
from mitie_spark.operators.tiff import decode_tiff
from mitie_spark.operators.webp import decode_webp
from tests.test_gif import _gray_palette, encode_gif
from tests.test_jpeg import encode_jpeg, encode_jpeg_lossless, encode_jpeg_progressive
from tests.test_tiff import encode_tiff
from tests.test_webp import _LIB as _WEBP_LIB, encode_lossless
from tests.test_media_codecs import _GRAY16_PAL, _build_bmp, _build_png, _pack_row

TRIALS_PER_SEED = 150


def _seeds():
    rng = np.random.default_rng(9)
    gray = rng.integers(0, 256, (13, 17), dtype=np.uint8)
    rgb = rng.integers(0, 256, (9, 11, 3), dtype=np.uint8)
    g12 = rng.integers(0, 4096, (10, 14)).astype(np.uint16)
    idx4 = rng.integers(0, 16, (8, 8), dtype=np.uint8)
    sub_rows = [_pack_row(idx4[r], 4) for r in range(8)]
    audio = (0.2 * np.sin(np.arange(400) / 10.0)).astype(np.float32)
    frames = [bytes(rng.integers(0, 256, 40, dtype=np.uint8).tolist()) for _ in range(6)]
    import struct

    rle = bytes([3, 7, 0, 4, 1, 2, 3, 4, 0, 0, 0, 2, 2, 1, 2, 9, 0, 1])
    words = b"".join(struct.pack("<H", w) for w in (0x7C00, 0x03E0, 0x001F, 0x7FFF))
    return [
        ("bmp", decode_bmp, encode_bmp(rgb)),
        ("bmp-rle8", decode_bmp, _build_bmp(8, 4, 8, 1, rle, pal=_GRAY16_PAL * 16)),
        ("bmp-16bit", decode_bmp, _build_bmp(4, 1, 16, 0, words)),
        ("pnm", decode_pnm, encode_pnm(gray)),
        ("wav", decode_wav, encode_wav(audio, rate=8000)),
        ("png-rgb", decode_png, encode_png(rgb)),
        ("png-sub4", decode_png, _build_png(sub_rows, color=0, bitd=4, width=8)),
        ("jpeg-base", decode_jpeg, encode_jpeg(gray)),
        ("jpeg-prog", decode_jpeg, encode_jpeg_progressive(rgb)),
        ("jpeg-12bit", decode_jpeg, encode_jpeg(g12, precision=12)),
        ("jpeg-lossless", decode_jpeg, encode_jpeg_lossless(gray, 8, predictor=4)),
        ("gif", decode_gif_frames, encode_gif(idx4, _gray_palette()[:16])),
        ("mp4", parse_mp4, encode_mp4(frames, fps=10, width=32, height=24)),
        ("tiff-lzw", decode_tiff, encode_tiff(rgb, compression=5, predictor=2)),
        ("tiff-pb4", decode_tiff, encode_tiff(idx4, bits=4, compression=32773)),
        ("tiff-tile", decode_tiff, encode_tiff(rgb, compression=8, tile=(16, 16))),
    ] + (
        # webp seeds need the system libwebp encoder
        [
            ("webp-noise", decode_webp, encode_lossless(
                np.dstack([rgb, np.full(rgb.shape[:2], 255, np.uint8)]))),
            ("webp-pal", decode_webp, encode_lossless(
                np.repeat(np.dstack([idx4 * 16] * 3 + [np.full((8, 8), 255, np.uint8)]), 3, axis=0))),
            ("webp-lossy", decode_webp, __import__(
                "tests.test_vp8", fromlist=["encode_lossy"]).encode_lossy(
                np.dstack([rgb, np.full(rgb.shape[:2], 255, np.uint8)]), 70)),
        ] if _WEBP_LIB is not None else []
    )


@pytest.mark.parametrize("name,decoder,payload", _seeds())
def test_mutation_fuzz_decode_or_unsupported(name, decoder, payload):
    # crc32, not hash(): str hashes are salted per process, so hash(name)
    # fuzzed different bytes on every run and broke the replay promise
    rng = np.random.default_rng(zlib.crc32(name.encode()))
    base = np.frombuffer(payload, dtype=np.uint8)
    for trial in range(TRIALS_PER_SEED):
        q = base.copy()
        op = int(rng.integers(0, 3))
        if op == 0:  # flip up to 8 random bytes
            n = int(rng.integers(1, 9))
            pos = rng.integers(0, len(q), n)
            q[pos] = rng.integers(0, 256, n)
        elif op == 1:  # truncate anywhere
            q = q[: int(rng.integers(1, len(q)))]
        else:  # splice up to 64 garbage bytes anywhere
            at = int(rng.integers(0, len(q) + 1))
            ins = rng.integers(0, 256, int(rng.integers(1, 65))).astype(np.uint8)
            q = np.concatenate([q[:at], ins, q[at:]])
        try:
            decoder(q.tobytes())
        except UnsupportedMediaError:
            pass
        except Exception as ex:  # pragma: no cover - the failure being hunted
            raise AssertionError(
                f"{name} trial {trial} op {op}: {type(ex).__name__}: {ex}"
            ) from ex


def test_empty_and_tiny_inputs():
    """Degenerate inputs every decoder must reject cleanly."""
    for decoder in (
        decode_bmp,
        decode_pnm,
        decode_wav,
        decode_png,
        decode_jpeg,
        decode_gif_frames,
        parse_mp4,
        decode_tiff,
        decode_webp,
    ):
        for payload in (b"", b"\x00", b"\xff" * 3, b"RIFF", b"\x89PNG"):
            with pytest.raises(UnsupportedMediaError):
                decoder(payload)
