"""Seeded mutation battery over the planted payload of every sniffable
media format: truncations, 1-3 bit flips and extreme 4-byte length
fields. Every kernel (features, header probe, resize, frame sampling)
must return or raise MediaDecodeError within a hang guard, and the
header probe must accept every payload its format's decoder accepts
(with the decoded dimensions, for images and video)."""

from __future__ import annotations

import random
import signal
import zlib

import numpy as np
import pytest

from beats_spark.training import media_codecs as mc
from beats_spark.training import multimodal as mm
from tests.test_media_dispatch import FORMATS, PLANTED

HANG_GUARD_S = 10  # per call; the slowest call of the corpus takes ~5 ms
_LENGTH_VALUES = (0xFFFFFFFF, 0x7FFFFFFF, 0)


def _fourcc(b: bytes) -> bool:
    return len(b) == 4 and all(chr(c).isalnum() or c == 0x20 for c in b)


def _length_fields(fmt: str, p: bytes) -> list[tuple[int, str]]:
    """(offset, byte order) of the 4-byte length fields of a planted
    payload: the size after each RIFF fourcc, before each PNG chunk
    type or ISO BMFF box type, the FLAC metadata block header, and the
    BMP file/offset/header/image sizes. Formats without 4-byte length
    fields get none."""
    if mc.FORMATS[fmt].riff_form is not None:
        return [
            (i + 4, "little")
            for i in range(len(p) - 7)
            if _fourcc(p[i : i + 4])
            and int.from_bytes(p[i + 4 : i + 8], "little") <= len(p)
        ]
    if fmt in ("png", "mp4"):
        return [
            (i - 4, "big")
            for i in range(4, len(p) - 3)
            if _fourcc(p[i : i + 4]) and int.from_bytes(p[i - 4 : i], "big") <= len(p)
        ]
    if fmt == "flac":
        return [(4, "big")]
    if fmt == "bmp":
        return [(o, "little") for o in (2, 10, 14, 34)]
    return []


def mutants(seed: int = 0) -> list[tuple[str, str, bytes]]:
    """(case id, planted format, payload) for about 1,000 mutants."""
    out = []
    for fmt, p in sorted(PLANTED.items()):
        rng = random.Random(f"{seed}:{fmt}")
        n = len(p)
        for cut in sorted(set(rng.sample(range(1, n), 24)) | {n - 1}):
            out.append((f"{fmt}/cut{cut}", fmt, p[:cut]))
        for k in range(48):
            raw = bytearray(p)
            # every other mutant flips inside the first 96 bytes, where
            # the headers are
            span = 8 * (min(n, 96) if k % 2 else n)
            bits = rng.sample(range(span), rng.randint(1, 3))
            for b in bits:
                raw[b >> 3] ^= 0x80 >> (b & 7)
            flips = ",".join(map(str, sorted(bits)))
            out.append((f"{fmt}/flip{k}:{flips}", fmt, bytes(raw)))
        fields = _length_fields(fmt, p)
        for off, order in rng.sample(fields, min(6, len(fields))):
            for v in _LENGTH_VALUES:
                raw = bytearray(p)
                raw[off : off + 4] = v.to_bytes(4, order)
                out.append((f"{fmt}/len{off}={v:08x}", fmt, bytes(raw)))
    return out


# --- hand-built cases -------------------------------------------------------------
#
# One payload per spec rule the shared header parses enforce (a decoder
# and a probe parsing the header apart disagree on each), a PADDING
# block after STREAMINFO that both must accept, and a short JPEG DHT.


def _flac_blocks(*blocks: bytes) -> bytes:
    """The planted FLAC with its metadata replaced by `blocks`."""
    p = PLANTED["flac"]
    _, first_frame = mc._flac_streaminfo(p)
    return b"fLaC" + b"".join(blocks) + p[first_frame:]


def _set_u16(p: bytes, at: int, v: int) -> bytes:
    return p[:at] + v.to_bytes(2, "little") + p[at + 2 :]


_STREAMINFO = PLANTED["flac"][8:42]
_WAV_BLOCK_ALIGN = PLANTED["wav"].index(b"fmt ") + 8 + 12
_G711 = mc.encode_wav_g711(8000, 2, np.zeros(40, np.int16))
_DHT = PLANTED["jpeg"].index(b"\xff\xc4")
SPEC_CASES = {
    # RFC 9639: STREAMINFO is the first metadata block, exactly 34 bytes
    "flac/padding-first": _flac_blocks(
        b"\x01\x00\x00\x04" + bytes(4), b"\x80\x00\x00\x22" + _STREAMINFO
    ),
    "flac/streaminfo-35": _flac_blocks(b"\x80\x00\x00\x23" + _STREAMINFO + b"\x00"),
    "flac/padding-after": _flac_blocks(
        b"\x00\x00\x00\x22" + _STREAMINFO, b"\x81\x00\x00\x04" + bytes(4)
    ),
    # WAVE PCM and G.711: nBlockAlign = channels × bits / 8
    "wav/block-align-0": _set_u16(PLANTED["wav"], _WAV_BLOCK_ALIGN, 0),
    "wav/block-align-4": _set_u16(PLANTED["wav"], _WAV_BLOCK_ALIGN, 4),
    "wav/g711-block-align-1": _set_u16(_G711, _G711.index(b"fmt ") + 20, 1),
    # PNG: IHDR is the first chunk
    "png/text-before-ihdr": PLANTED["png"][:8]
    + (3).to_bytes(4, "big")
    + b"tEXtk\x00v"
    + zlib.crc32(b"tEXtk\x00v").to_bytes(4, "big")
    + PLANTED["png"][8:],
    # a LIST's form type does not change how its sub-chunks parse
    "avi/hdrl-renamed": PLANTED["avi"].replace(b"hdrl", b"hdrX", 1),
    # a DHT segment that ends after its first code-length count
    "jpeg/dht-short": PLANTED["jpeg"][: _DHT + 2]
    + (4).to_bytes(2, "big")
    + PLANTED["jpeg"][_DHT + 4 :],
}


def corpus() -> list[tuple[str, str, bytes]]:
    """Every planted payload, the spec cases and the mutants."""
    planted = [(f"{fmt}/planted", fmt, p) for fmt, p in sorted(PLANTED.items())]
    spec = [(case, case.split("/")[0], p) for case, p in SPEC_CASES.items()]
    return planted + spec + mutants()


class _Hang(Exception):
    pass


def _on_alarm(signum, frame):
    raise _Hang(f"call outlived the {HANG_GUARD_S} s hang guard")


def _call(fn, *args):
    """("ok", result) or ("err", MediaDecodeError); any other exception
    and a hang propagate."""
    old = signal.signal(signal.SIGALRM, _on_alarm)
    signal.setitimer(signal.ITIMER_REAL, HANG_GUARD_S)
    try:
        return "ok", fn(*args)
    except mc.MediaDecodeError as e:
        return "err", e
    finally:
        signal.setitimer(signal.ITIMER_REAL, 0)
        signal.signal(signal.SIGALRM, old)


@pytest.fixture(scope="module")
def outcomes():
    """Run every kernel on every payload of the corpus once:
    {case: (sniffed format, {op: ("ok", result) | ("err", error)})},
    plus the calls that raised anything else or hung."""
    results, crashes = {}, []
    for case, src, p in corpus():
        fmt = mc.sniff(p)
        kind = fmt.kind if fmt else FORMATS[src]
        ops = {
            "features": (mm._default_decode, kind, p),
            "probe": (mc.probe_header, p),
            "resize": (mm._default_resize, kind, p, 5, 3),
            "sample": (mm._real_frame_sample, p, 3),
        }
        got = {}
        for op, (fn, *args) in ops.items():
            try:
                got[op] = _call(fn, *args)
            except Exception as e:  # noqa: BLE001 — every crash is reported
                crashes.append(f"{case} {op}: {type(e).__name__}: {e}")
        results[case] = (fmt, got)
    return results, crashes


def test_corpus_size_and_determinism():
    cases = mutants()
    assert 900 <= len(cases) <= 1200
    assert len({c for c, _, _ in cases}) == len(cases)
    assert mutants() == cases


def test_every_mutant_returns_or_raises_media_decode_error(outcomes):
    _, crashes = outcomes
    assert not crashes, "\n".join(crashes[:20])


def test_probe_accepts_what_the_decoder_accepts(outcomes):
    results, _ = outcomes
    bad = []
    for case, (fmt, got) in results.items():
        decoded, feat = got.get("features", ("crash", None))
        if fmt is None or fmt.features is None or decoded != "ok":
            continue
        status, meta = got.get("probe", ("crash", None))
        if status != "ok":
            bad.append(f"{case}: decoder accepts, probe raises {meta}")
        elif fmt.kind in ("image", "video"):
            if meta[:2] != (feat[1], feat[2]):
                bad.append(f"{case}: probe {meta[:2]} != decoded {feat[1:3]}")
    assert not bad, "\n".join(bad)


# --- the hand-built cases, one by one ---------------------------------------------


def _assert_both_raise(p: bytes, features, match: str) -> None:
    with pytest.raises(mc.MediaDecodeError, match=match):
        features(p)
    with pytest.raises(mc.MediaDecodeError, match=match):
        mc.probe_header(p)


def test_flac_streaminfo_must_come_first_and_be_34_bytes():
    """RFC 9639: decoder and probe both reject a PADDING block ahead of
    STREAMINFO and a 35-byte STREAMINFO, and both accept a PADDING
    block after it."""
    _assert_both_raise(SPEC_CASES["flac/padding-first"], mc.flac_features, "first block")
    _assert_both_raise(SPEC_CASES["flac/streaminfo-35"], mc.flac_features, "34 bytes")
    padded = SPEC_CASES["flac/padding-after"]
    assert mc.flac_features(padded) == mc.flac_features(PLANTED["flac"])
    assert mc.probe_header(padded) == (None, None, 100)


def test_wav_block_align_must_match_the_sample_layout():
    """WAVE: decoder and probe both reject a PCM or G.711 block align
    other than channels × bytes per sample, zero included."""
    assert mc.probe_header(_G711) == (None, None, 2)
    for case in ("wav/block-align-0", "wav/block-align-4", "wav/g711-block-align-1"):
        _assert_both_raise(SPEC_CASES[case], mc.wav_features, "block_align")


def test_avi_lists_parse_alike_whatever_their_form_type():
    """An AVI whose LIST 'hdrl' is renamed still carries its avih, and
    decoder and probe both find it."""
    p = SPEC_CASES["avi/hdrl-renamed"]
    frames, _ = mc.decode_avi_frames(p)
    assert len(frames) == 2
    assert mc.probe_header(p) == mc.probe_header(PLANTED["avi"]) == (6, 4, 80)


def test_png_ihdr_must_come_first():
    """PNG: IHDR is the first chunk (the probe reads it at byte 12), so
    decoder and probe both reject a tEXt chunk ahead of it."""
    _assert_both_raise(SPEC_CASES["png/text-before-ihdr"], mc.png_features, "IHDR")


def test_jpeg_short_dht_raises():
    """A DHT cut inside its 16 code-length counts is a MediaDecodeError,
    not an IndexError."""
    with pytest.raises(mc.MediaDecodeError, match="truncated DHT"):
        mc.decode_jpeg(SPEC_CASES["jpeg/dht-short"])
