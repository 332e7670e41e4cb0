"""Media kernel dispatch: every format of the magic chain crossed with
every media kind gets the real decode/resize kernel exactly when the
payload's sniffed kind is the row's kind, and the stub otherwise."""

from __future__ import annotations

import numpy as np
import pytest

from beats_spark.training import media_codecs as mc
from beats_spark.training import multimodal as mm

_IMG = (np.arange(4 * 6 * 3, dtype=np.uint32) * 7 % 256).astype(np.uint8).reshape(4, 6, 3)
_PCM = (np.arange(800, dtype=np.int32) * 97 % 2001 - 1000).astype(np.int16)

# one planted payload per media_codecs.FORMATS entry
PLANTED = {
    "png": mc.encode_png(_IMG),
    "jpeg": mc.encode_jpeg(np.zeros((8, 16, 3), np.uint8)),
    "gif": mc.encode_gif([_IMG, _IMG[::-1]], delays_ms=[40, 60]),
    "ppm": mc.encode_ppm(_IMG),
    "bmp": mc.encode_bmp(_IMG),
    "wav": mc.encode_wav(8000, 1, _PCM),
    "webp": mc.encode_webp(_IMG),
    "avi": mc.encode_avi([_IMG, _IMG[::-1]]),
    "flac": mc.encode_flac(8000, 1, _PCM),
    "mp3": b"ID3\x04\x00\x00\x00\x00\x00\x00" + bytes(32),
    "ogg": mc.encode_ogg_vorbis_meta(8000, 1, 16000),
    "mp4": mc.encode_mp4_meta(6, 4, 1000),
}
FORMATS = {name: f.kind for name, f in mc.FORMATS.items()}
KINDS = ("image", "audio", "video")


def test_every_chain_format_is_planted_and_sniffed():
    assert set(PLANTED) == set(FORMATS)
    for fmt, payload in PLANTED.items():
        assert mm._sniff_one(payload) == fmt


@pytest.mark.parametrize("kind", KINDS)
@pytest.mark.parametrize("fmt", sorted(FORMATS))
def test_decode_gets_real_kernel_only_for_matching_kind(fmt, kind):
    payload = PLANTED[fmt]
    got = mm._real_decode(kind)(payload)
    if FORMATS[fmt] == kind and mc.FORMATS[fmt].features:
        assert got == mc.FORMATS[fmt].features(payload)
        assert got != mm._fake_decode(payload)
    else:
        assert got == mm._fake_decode(payload)


@pytest.mark.parametrize("kind", (*KINDS, "text"))
@pytest.mark.parametrize("fmt", sorted(FORMATS))
def test_resize_gets_real_kernel_only_for_matching_kind(fmt, kind):
    payload = PLANTED[fmt]
    got = mm._default_resize(kind, payload, 3, 2)
    if FORMATS[fmt] == kind and mc.FORMATS[fmt].resize:
        assert got == mc.FORMATS[fmt].resize(payload, 3, 2)
        assert mm._sniff_one(got) == fmt  # re-encoded, not byte-resampled
    else:
        assert got == mm._fake_resize(payload, 3, 2)


def test_unknown_kind_has_no_default_decoder():
    with pytest.raises(NotImplementedError, match="text"):
        mm._real_decode("text")


@pytest.mark.parametrize("fmt", sorted(FORMATS))
def test_frame_sampler_is_real_only_for_animated_formats(fmt):
    rows = mm._real_frame_sample(PLANTED[fmt], 2)
    if fmt in ("gif", "avi"):
        assert [j for j, _, _ in rows] == [0, 1]
        assert all(mm._sniff_one(fr) == "ppm" for _, _, fr in rows)
    elif fmt == "webp":
        assert rows is not None  # a still WebP samples as one repeated frame
    else:
        assert rows is None
