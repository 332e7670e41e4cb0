"""Real pure-numpy media kernels (VERDICT r03 item 2): PPM P6 decode +
bilinear resize + re-encode, PCM16 WAV decode — plus the ADVICE r03
error contract (a kernel raising on corrupt media lands in the error
column / skips the asset, never kills the stage)."""

import numpy as np
import pytest

from beats_spark.training import media_codecs as mc


# --- pure-python codec oracles ------------------------------------------------


def test_ppm_round_trip_and_header_grammar():
    img = np.arange(5 * 4 * 3, dtype=np.uint8).reshape(4, 5, 3)
    assert (mc.decode_ppm(mc.encode_ppm(img)) == img).all()
    # comments + arbitrary whitespace in the header (Netpbm grammar)
    p = b"P6 # c1\n# full line comment\n 2\t1 # c2\n255\n" + bytes(range(6))
    assert mc.decode_ppm(p).tolist() == [[[0, 1, 2], [3, 4, 5]]]
    # trailing junk after the raster is ignored (count-bounded read)
    assert (
        mc.decode_ppm(mc.encode_ppm(img) + b"JUNK") == img
    ).all()


@pytest.mark.parametrize(
    "payload,msg",
    [
        (b"P5\n1 1\n255\n\x00", "not a P6"),
        (b"P6\n2 2\n255\nxxxx", "raster short"),
        (b"P6\n0 3\n255\n", "bad dimensions"),
        (b"P6\n2 2\n65535\n" + bytes(24), "maxval"),
        (b"P6\n2", "truncated header"),
    ],
)
def test_ppm_malformed_raises(payload, msg):
    with pytest.raises(mc.MediaDecodeError, match=msg):
        mc.decode_ppm(payload)


def test_bilinear_resize_exact_values():
    # constant image stays constant at any size
    c = np.full((3, 7, 3), 100, dtype=np.uint8)
    out = mc.bilinear_resize(c, 13, 5)
    assert out.shape == (5, 13, 3) and (out == 100).all()
    # hand-computed 2x upscale of a 1x2 gradient (pixel-center mapping:
    # src_x = (dst+0.5)/2 - 0.5 -> [0, .25, .75, 1] -> [0, 50, 150, 200])
    g = np.zeros((1, 2, 3), dtype=np.uint8)
    g[0, 1] = 200
    assert mc.bilinear_resize(g, 4, 1)[0, :, 0].tolist() == [0, 50, 150, 200]
    # identity resize is exact
    img = np.arange(4 * 4 * 3, dtype=np.uint8).reshape(4, 4, 3)
    assert (mc.bilinear_resize(img, 4, 4) == img).all()
    # downscale 2x of a checkerboard averages the 2x2 block exactly
    cb = np.zeros((2, 2, 3), dtype=np.uint8)
    cb[0, 1] = cb[1, 0] = 200
    assert mc.bilinear_resize(cb, 1, 1)[0, 0].tolist() == [100, 100, 100]


def test_wav_round_trip_and_chunk_walk():
    s = np.array([0, 100, -100, 32767, -32768, 7], dtype=np.int16)
    rate, ch, dec = mc.decode_wav(mc.encode_wav(44100, 1, s))
    assert (rate, ch) == (44100, 1) and (dec == s).all()
    # fmt not first: LIST chunk before fmt must be skipped
    raw = mc.encode_wav(8000, 2, s)
    with_list = raw[:12] + b"LIST\x04\x00\x00\x00INFO" + raw[12:]
    rate, ch, dec = mc.decode_wav(with_list)
    assert (rate, ch) == (8000, 2) and (dec == s).all()
    # odd-sized chunks are word-aligned
    odd = raw[:12] + b"junk\x03\x00\x00\x00ab\x00" + b"\x00" + raw[12:]
    assert (mc.decode_wav(odd)[2] == s).all()


@pytest.mark.parametrize(
    "payload,msg",
    [
        (b"RIFF\x00\x00\x00\x00NOPE", "not a RIFF/WAVE"),
        (b"OggS rest", "not a RIFF/WAVE"),
        (b"RIFF\x24\x00\x00\x00WAVE", "missing fmt or data"),
    ],
)
def test_wav_malformed_raises(payload, msg):
    with pytest.raises(mc.MediaDecodeError, match=msg):
        mc.decode_wav(payload)


def test_wav_non_pcm16_rejected():
    raw = bytearray(mc.encode_wav(8000, 1, np.zeros(4, dtype=np.int16)))
    raw[20] = 3  # IEEE float fmt tag
    with pytest.raises(mc.MediaDecodeError, match="only PCM16"):
        mc.decode_wav(bytes(raw))


def test_feature_vectors_integer_exact():
    img = np.full((4, 8, 3), 0, dtype=np.uint8)
    img[..., 0] = 51  # r_sum = 32*51 -> ppm = (1e6*51)//255 = 200000
    f = mc.ppm_features(mc.encode_ppm(img))
    assert f == [1.0, 8.0, 4.0, 0.2, 0.0, 0.0, 255.0, 32.0]
    s = np.full(16, -8, dtype=np.int16)
    f = mc.wav_features(mc.encode_wav(8000, 1, s))
    assert f[:4] == [2.0, 16.0, 8000.0, 1.0]
    assert f[4] == ((1_000_000 * 16 * 8) // (32768 * 16)) / 1e6
    assert f[5] == 8.0 and f[6] == 0.0


# --- Spark integration: real kernels as the registered defaults ---------------


def test_extract_features_real_kernels_and_error_column(spark):
    from beats_spark.training.multimodal import extract_features

    img = mc.encode_ppm(np.full((2, 2, 3), 60, dtype=np.uint8))
    wav = mc.encode_wav(16000, 1, np.full(8, 100, dtype=np.int16))
    rows = [
        ("ppm", img, "image"),
        ("wav", wav, "audio"),
        ("corrupt_ppm", b"P6\n9 9\n255\nshort", "image"),
        ("corrupt_wav", b"RIFF\x10\x00\x00\x00WAVEdata", "audio"),
        ("png_real", mc.encode_png(np.full((2, 2, 3), 60, np.uint8)), "image"),
        ("corrupt_png", b"\x89PNG\r\n\x1a\n" + bytes(32), "image"),
        ("corrupt_jpeg", b"\xff\xd8\xff\xe0" + bytes(32), "image"),
        ("corrupt_gif", b"GIF87a" + bytes(32), "image"),
        ("corrupt_webp", b"RIFF0000WEBP" + bytes(32), "image"),
        ("mp3_fallback", b"ID3" + bytes(32), "audio"),
    ]
    df = spark.createDataFrame(rows, "key string, media binary, kind string")
    out = {r["key"]: r for r in extract_features(df, kind_col="kind").collect()}

    # feat is an array<float> lane: float32 storage, so compare the
    # integer-exact round-trip (all planted magnitudes < 2^24)
    def ppm_ints(feat):
        return [round(v * 1e6) for v in feat]

    assert ppm_ints(out["ppm"].feat) == ppm_ints(mc.ppm_features(img))
    assert ppm_ints(out["wav"].feat) == ppm_ints(mc.wav_features(wav))
    # corrupt media: decode_error recorded per-row, stage survives
    assert out["corrupt_ppm"].feat is None
    assert "raster short" in out["corrupt_ppm"].decode_error
    assert out["corrupt_wav"].feat is None
    assert "missing fmt or data" in out["corrupt_wav"].decode_error
    # PNG now decodes for REAL (round 5): same features as a PPM of the
    # same pixels; a signature-bearing but malformed payload lands in
    # decode_error instead of silently stubbing
    assert ppm_ints(out["png_real"].feat) == ppm_ints(
        mc.ppm_features(mc.encode_ppm(np.full((2, 2, 3), 60, np.uint8)))
    )
    assert out["corrupt_png"].feat is None
    assert "png" in out["corrupt_png"].decode_error
    # JPEG decodes for REAL too (round 5): a signature-bearing but
    # malformed payload lands in decode_error
    assert out["corrupt_jpeg"].feat is None
    assert "jpeg" in out["corrupt_jpeg"].decode_error
    # GIF decodes for REAL as well (round 5): malformed -> decode_error
    assert out["corrupt_gif"].feat is None
    assert "gif" in out["corrupt_gif"].decode_error
    # WebP decodes for REAL now too (round 5, the last image format):
    # malformed -> decode_error
    assert out["corrupt_webp"].feat is None
    assert "webp" in out["corrupt_webp"].decode_error
    # the still-kernel-less family (compressed audio) falls back to the
    # deterministic stub
    from beats_spark.training.multimodal import _fake_decode

    assert ppm_ints(out["mp3_fallback"].feat) == ppm_ints(
        _fake_decode(b"ID3" + bytes(32))
    )
    assert out["mp3_fallback"].decode_error is None


def test_resize_media_real_bilinear_kernel(spark):
    from beats_spark.training.multimodal import resize_media

    src = np.zeros((1, 2, 3), dtype=np.uint8)
    src[0, 1] = 200
    img = mc.encode_ppm(src)
    rows = [("g", img), ("bad", b"P6\n4 4\n255\nshort"), ("blob", bytes(range(24)))]
    df = spark.createDataFrame(rows, "key string, media binary")
    out = {r["key"]: r for r in resize_media(df, 4, 1).collect()}

    resized = mc.decode_ppm(bytes(out["g"].media))
    assert resized[0, :, 0].tolist() == [0, 50, 150, 200]
    assert out["g"].resize_error is None
    # corrupt P6: error recorded, not raised (ADVICE r03)
    assert out["bad"].media is None and "raster short" in out["bad"].resize_error
    # non-P6 binary falls back to the byte-resample stub
    assert len(bytes(out["blob"].media)) == 4


def test_registered_kernel_still_wins_over_real_default(spark):
    from beats_spark.training.multimodal import extract_features, register_decoder

    img = mc.encode_ppm(np.zeros((1, 1, 3), dtype=np.uint8))
    try:
        register_decoder("image", lambda b: [9.0] * 8)
        df = spark.createDataFrame([("k", img)], "key string, media binary")
        out = extract_features(df, default_kind="image").collect()[0]
        assert out.feat == [9.0] * 8
    finally:
        from beats_spark.training.multimodal import _DECODERS

        _DECODERS.pop("image", None)


def test_bmp_round_trip_padding_and_bgr():
    """encode->decode is identity for a non-multiple-of-4 width (row
    padding exercised); the on-disk byte order is BGR bottom-up, so a
    hand-built file with a red top-left pixel must decode to RGB with
    red at [0, 0]."""
    import numpy as np

    from beats_spark.training.media_codecs import decode_bmp, encode_bmp

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(5, 3, 3), dtype=np.uint8)  # stride pad=3
    assert np.array_equal(decode_bmp(encode_bmp(img)), img)

    # hand-built 1x1: blue=0 green=0 red=255 on disk -> RGB (255,0,0)
    one = encode_bmp(np.array([[[255, 0, 0]]], dtype=np.uint8))
    px_off = int.from_bytes(one[10:14], "little")
    assert one[px_off:px_off + 3] == b"\x00\x00\xff"  # BGR on disk
    assert decode_bmp(one)[0, 0].tolist() == [255, 0, 0]

    # top-down variant (negative height) decodes without the flip
    td = bytearray(encode_bmp(img))
    td[22:26] = (-5).to_bytes(4, "little", signed=True)
    flipped = decode_bmp(bytes(td))
    assert np.array_equal(flipped, img[::-1])


def test_bmp_features_match_ppm_for_same_pixels():
    """The two real image codecs must agree: identical pixels encoded
    as PPM and as BMP yield the SAME integer-exact feature vector, and
    both dispatch through _default_decode("image", …)."""
    import numpy as np

    from beats_spark.training.media_codecs import (
        bmp_features, encode_bmp, encode_ppm, ppm_features,
    )
    from beats_spark.training.multimodal import _default_decode

    img = (np.arange(8 * 4 * 3, dtype=np.uint8) % 251).reshape(8, 4, 3)
    fb, fp = bmp_features(encode_bmp(img)), ppm_features(encode_ppm(img))
    assert fb == fp
    assert _default_decode("image", encode_bmp(img)) == fb
    assert _default_decode("image", encode_ppm(img)) == fp


def test_bmp_malformed_raises():
    import numpy as np
    import pytest

    from beats_spark.training.media_codecs import (
        MediaDecodeError, decode_bmp, encode_bmp,
    )

    with pytest.raises(MediaDecodeError, match="not a BM"):
        decode_bmp(b"XX" + bytes(60))
    good = encode_bmp(np.zeros((4, 4, 3), dtype=np.uint8))
    with pytest.raises(MediaDecodeError, match="truncated pixel"):
        decode_bmp(good[:-5])
    bad_bpp = bytearray(good)
    bad_bpp[28:30] = (8).to_bytes(2, "little")
    with pytest.raises(MediaDecodeError, match="only 24-bit"):
        decode_bmp(bytes(bad_bpp))


def test_bmp_resize_real_kernel():
    """Constant-color image survives bilinear resize exactly, through
    the BMP-routed default resizer."""
    import numpy as np

    from beats_spark.training.media_codecs import decode_bmp, encode_bmp
    from beats_spark.training.multimodal import _default_resize

    img = np.full((6, 6, 3), (10, 200, 30), dtype=np.uint8)
    out = _default_resize("image", encode_bmp(img), 3, 2)
    dec = decode_bmp(out)
    assert dec.shape == (2, 3, 3)
    assert np.array_equal(dec, np.full((2, 3, 3), (10, 200, 30), dtype=np.uint8))


# --- PNG (round 5: first compressed-format real codec) ------------------------


def _forward_filter(img: np.ndarray, ftypes: list[int]) -> bytes:
    """Spec-literal forward filtering (the encoder side of filters the
    repo encoder doesn't emit — Average=3, Paeth=4) so the decoder's
    unfilter is tested against an independent implementation."""
    import zlib

    h, w, ch = img.shape
    a = img.astype(np.int32)
    recon = a.reshape(h, w * ch)
    out = []
    for y in range(h):
        ft = ftypes[y % len(ftypes)]
        row = recon[y]
        prev = recon[y - 1] if y > 0 else np.zeros(w * ch, np.int32)
        filt = np.zeros(w * ch, np.int32)
        for x in range(w * ch):
            left = row[x - ch] if x >= ch else 0
            up = prev[x]
            ul = prev[x - ch] if x >= ch and y > 0 else 0
            if ft == 0:
                pred = 0
            elif ft == 1:
                pred = left
            elif ft == 2:
                pred = up
            elif ft == 3:
                pred = (left + up) // 2
            else:  # Paeth
                p = left + up - ul
                pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
                pred = left if pa <= pb and pa <= pc else (up if pb <= pc else ul)
            filt[x] = (row[x] - pred) % 256
        out.append(bytes([ft]) + filt.astype(np.uint8).tobytes())
    sig = b"\x89PNG\r\n\x1a\n"

    def chunk(ctype, data):
        crc = zlib.crc32(ctype + data) & 0xFFFFFFFF
        return len(data).to_bytes(4, "big") + ctype + data + crc.to_bytes(4, "big")

    color = 2 if ch == 3 else 6
    ihdr = w.to_bytes(4, "big") + h.to_bytes(4, "big") + bytes([8, color, 0, 0, 0])
    return (
        sig
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(b"".join(out)))
        + chunk(b"IEND", b"")
    )


def test_png_round_trip_all_encode_filters():
    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, (7, 9, 3), dtype=np.uint8)
    for ft in (0, 1, 2):
        assert (mc.decode_png(mc.encode_png(img, filter_type=ft)) == img).all()
    rgba = rng.integers(0, 256, (5, 3, 4), dtype=np.uint8)
    assert (mc.decode_png(mc.encode_png(rgba)) == rgba).all()


def test_png_unfilter_average_and_paeth_against_spec_filter():
    rng = np.random.default_rng(13)
    for ch in (3, 4):
        img = rng.integers(0, 256, (6, 5, ch), dtype=np.uint8)
        # every filter type incl. 3/4, rotating per scanline
        p = _forward_filter(img, [4, 3, 1, 2, 0, 4])
        assert (mc.decode_png(p) == img).all()


def test_png_multi_idat_and_feature_parity_with_ppm():
    import zlib

    img = np.arange(4 * 8 * 3, dtype=np.uint8).reshape(4, 8, 3)
    p = mc.encode_png(img)
    # split the single IDAT into two chunks — decoders must concat
    sig_ihdr, rest = p[:33], p[33:]
    size = int.from_bytes(rest[:4], "big")
    body = rest[8 : 8 + size]
    iend = rest[12 + size :]

    def chunk(ctype, data):
        crc = zlib.crc32(ctype + data) & 0xFFFFFFFF
        return len(data).to_bytes(4, "big") + ctype + data + crc.to_bytes(4, "big")

    split = sig_ihdr + chunk(b"IDAT", body[:7]) + chunk(b"IDAT", body[7:]) + iend
    assert (mc.decode_png(split) == img).all()
    # PNG and PPM of the same pixels yield identical features
    assert mc.png_features(p) == mc.ppm_features(mc.encode_ppm(img))


@pytest.mark.parametrize(
    "mutate,msg",
    [
        (lambda p: b"\x89PNJ" + p[4:], "bad signature"),
        (lambda p: p[:40] + bytes([p[40] ^ 0xFF]) + p[41:], "CRC mismatch"),
        (lambda p: p[:25] + bytes([1]) + p[26:], "CRC mismatch"),  # depth byte
        (lambda p: p[: len(p) - 12], "missing IEND"),
    ],
)
def test_png_malformed_raises(mutate, msg):
    img = np.zeros((2, 2, 3), dtype=np.uint8)
    with pytest.raises(mc.MediaDecodeError, match=msg):
        mc.decode_png(mutate(mc.encode_png(img)))


def test_png_unsupported_shapes_rejected():
    import zlib

    # 16-bit depth and palette color types must raise, not misread
    img = np.zeros((2, 2, 3), dtype=np.uint8)
    p = bytearray(mc.encode_png(img))
    p[24] = 16  # bit depth field inside IHDR data
    # rebuild IHDR CRC so the depth check (not CRC) is what fires
    ihdr = bytes(p[12:29])
    crc = zlib.crc32(ihdr) & 0xFFFFFFFF
    p[29:33] = crc.to_bytes(4, "big")
    with pytest.raises(mc.MediaDecodeError, match="8-bit RGB/RGBA"):
        mc.decode_png(bytes(p))


def test_png_resize_real_kernel():
    img = np.full((4, 4, 3), 77, dtype=np.uint8)
    out = mc.decode_png(mc.FORMATS["png"].resize(mc.encode_png(img), 8, 2))
    assert out.shape == (2, 8, 3) and (out == 77).all()


def _raw_png(w, h, color, rows, extra=b""):
    import zlib

    def chunk(ctype, data):
        crc = zlib.crc32(ctype + data) & 0xFFFFFFFF
        return len(data).to_bytes(4, "big") + ctype + data + crc.to_bytes(4, "big")

    ihdr = w.to_bytes(4, "big") + h.to_bytes(4, "big") + bytes([8, color, 0, 0, 0])
    body = zlib.compress(b"".join(b"\x00" + r.tobytes() for r in rows))
    return (
        mc._PNG_SIG + chunk(b"IHDR", ihdr) + extra
        + chunk(b"IDAT", body) + chunk(b"IEND", b"")
    )


def _chunk(ctype, data):
    import zlib

    crc = zlib.crc32(ctype + data) & 0xFFFFFFFF
    return len(data).to_bytes(4, "big") + ctype + data + crc.to_bytes(4, "big")


def test_png_grayscale_palette_and_alpha_variants():
    """Color types 0 (gray→RGB), 4 (gray+alpha→RGBA), 3 (PLTE lookup,
    optional tRNS per-index alpha); malformed palettes raise."""
    rng = np.random.default_rng(5)
    g = rng.integers(0, 256, (3, 4), dtype=np.uint8)
    img = mc.decode_png(_raw_png(4, 3, 0, [g[y] for y in range(3)]))
    assert img.shape == (3, 4, 3) and (img[..., 1] == g).all()

    ga = rng.integers(0, 256, (2, 3, 2), dtype=np.uint8)
    img = mc.decode_png(_raw_png(3, 2, 4, [ga[y].reshape(-1) for y in range(2)]))
    assert img.shape == (2, 3, 4)
    assert (img[..., 0] == ga[..., 0]).all() and (img[..., 3] == ga[..., 1]).all()

    pal = rng.integers(0, 256, (5, 3), dtype=np.uint8)
    idx = rng.integers(0, 5, (2, 4), dtype=np.uint8)
    plte = _chunk(b"PLTE", pal.tobytes())
    rows = [idx[y] for y in range(2)]
    img = mc.decode_png(_raw_png(4, 2, 3, rows, extra=plte))
    assert (img == pal[idx]).all()
    trns = _chunk(b"tRNS", bytes([10, 20, 30]))
    img = mc.decode_png(_raw_png(4, 2, 3, rows, extra=plte + trns))
    exp_a = np.array([10, 20, 30, 255, 255], dtype=np.uint8)[idx]
    assert (img[..., 3] == exp_a).all() and (img[..., :3] == pal[idx]).all()

    with pytest.raises(mc.MediaDecodeError, match="out of range"):
        mc.decode_png(_raw_png(4, 2, 3, [np.full(4, 9, np.uint8)] * 2, extra=plte))
    with pytest.raises(mc.MediaDecodeError, match="PLTE"):
        mc.decode_png(_raw_png(4, 2, 3, rows))
    # features over a palette image == features of its expanded pixels
    assert mc.png_features(
        _raw_png(4, 2, 3, rows, extra=plte)
    ) == mc.ppm_features(mc.encode_ppm(pal[idx]))


# --- JPEG (baseline DCT) -------------------------------------------------------


def _plant_jpeg(d: int) -> tuple[bytes, np.ndarray]:
    """The q71 planting recipe: per-block two-level Y (+the (0,4) DCT
    basis), constant chroma, flat quant 8. Returns (payload, expected
    RGB pixels from the exact integer twin of the decoder's IEEE
    arithmetic)."""
    pat = np.array([1, -1, -1, 1, 1, -1, -1, 1], dtype=np.int64)
    y = np.zeros((16, 32), dtype=np.int64)
    amp = 2 * (d % 7)
    for by in range(2):
        for bx in range(4):
            base = 72 + 3 * ((5 * d + bx + 2 * by) % 37)
            y[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = base + amp * np.tile(
                pat, (8, 1)
            )
    ri = 2 if d % 6 == 0 else 0
    if d % 8 == 5:
        return (
            mc.encode_jpeg(y.astype(np.uint8), quant=8, restart_interval=ri),
            np.repeat(y[..., None], 3, axis=2),
        )
    kr = 20 * ((d * 11) % 5 - 2)
    kb = 20 * ((d * 7) % 3 - 1)
    img = np.stack(
        [y, np.full_like(y, 128 + kb), np.full_like(y, 128 + kr)], axis=-1
    ).astype(np.uint8)
    payload = mc.encode_jpeg(
        img,
        quant=8,
        subsample="420" if d % 2 else "444",
        restart_interval=ri,
        color_space="ycbcr",
    )
    r = (1000 * y + 1402 * kr + 500) // 1000
    b = (1000 * y + 1772 * kb + 500) // 1000
    g = (587000 * y - 419198 * kr - 202008 * kb + 293500) // 587000
    return payload, np.stack([r, g, b], axis=-1)


def test_jpeg_planted_corpus_pixel_exact():
    """The q71 pytest twin: all 48 planted docs decode pixel-identical
    to the integer-arithmetic oracle (gray expansion, 4:4:4 and 4:2:0,
    restart markers, AC run-length at zigzag position 14)."""
    for d in range(48):
        payload, exp = _plant_jpeg(d)
        assert payload[:3] == b"\xff\xd8\xff"
        dec = mc.decode_jpeg(payload).astype(np.int64)
        assert np.array_equal(dec, exp), f"doc {d}"


def test_jpeg_huffman_tables_and_magnitude_coding():
    """Entropy-layer internals: every symbol of all four Annex K tables
    survives a BitWriter→BitReader round trip (incl. byte stuffing and
    1-padding), and EXTEND inverts the magnitude coding for the full
    baseline range."""
    for bits, vals in (
        mc._STD_DC_LUMA,
        mc._STD_DC_CHROMA,
        mc._STD_AC_LUMA,
        mc._STD_AC_CHROMA,
    ):
        enc = mc._huff_encode_table(bits, vals)
        dec = mc._huff_decode_table(bits, vals)
        assert sorted(enc) == sorted(vals)
        wr = mc._MsbWriter()
        for v in vals:
            ln, code = enc[v]
            wr.write(code, ln)
        wr.align(1)
        # the encoder stuffs FF→FF 00 on the wire and _split_entropy
        # destuffs before the reader sees it — mirror that here
        wire = mc._jpeg_stuff(wr.buf)
        rd = mc._MsbReader(wire.replace(b"\xff\x00", b"\xff"), "jpeg")
        for v in vals:
            assert mc._huff_lookup(rd, dec) == v
    for v in range(-2047, 2048):
        s, bitsv = mc._magnitude(v)
        assert mc._extend(bitsv, s) == v
    # stuffing: a run of 1-bits produces FF 00 on the wire
    wr = mc._MsbWriter()
    wr.write(0xFFFF, 16)
    assert mc._jpeg_stuff(wr.buf) == b"\xff\x00\xff\x00"


def test_jpeg_round_trip_error_bounds():
    """Lossy-path sanity with empirically pinned bounds: flat quant 1
    is near-lossless (only color-space rounding), Annex K tables keep
    a smooth gradient close, constant colors survive subsampling."""
    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, (19, 23, 3), dtype=np.uint8)
    d = mc.decode_jpeg(mc.encode_jpeg(img, quant=1, subsample="444"))
    assert np.abs(d.astype(int) - img.astype(int)).max() <= 4
    g = rng.integers(0, 256, (19, 23), dtype=np.uint8)
    d = mc.decode_jpeg(mc.encode_jpeg(g, quant=1))
    assert np.abs(d.astype(int) - np.repeat(g[..., None], 3, 2).astype(int)).max() <= 1
    sm = np.clip(
        np.arange(24)[:, None, None] * 5
        + np.arange(40)[None, :, None] * 3
        + np.array([10, 60, 120])[None, None, :],
        0,
        255,
    ).astype(np.uint8)
    d = mc.decode_jpeg(mc.encode_jpeg(sm))
    assert np.abs(d.astype(int) - sm.astype(int)).mean() <= 2.0
    const = np.full((20, 26, 3), [137, 61, 202], dtype=np.uint8)
    for sub in ("444", "422", "420"):
        d = mc.decode_jpeg(mc.encode_jpeg(const, subsample=sub))
        assert np.abs(d.astype(int) - const.astype(int)).max() <= 2, sub


def test_jpeg_odd_dimensions_and_restart_intervals():
    """Non-MCU-multiple dimensions pad with edge replication and crop
    back; restart markers re-sync DC predictors at every interval."""
    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, (17, 29, 3), dtype=np.uint8)
    for sub in ("444", "420", "422"):
        for ri in (0, 1, 3):
            d = mc.decode_jpeg(
                mc.encode_jpeg(img, quant=1, subsample=sub, restart_interval=ri)
            )
            assert d.shape == (17, 29, 3), (sub, ri)
    # 444 quant=1: odd dims stay near-lossless (crop discards the padding)
    d = mc.decode_jpeg(mc.encode_jpeg(img, quant=1, subsample="444"))
    assert np.abs(d.astype(int) - img.astype(int)).max() <= 4


def test_jpeg_malformed_raises():
    payload = mc.encode_jpeg(
        np.full((16, 16, 3), 99, dtype=np.uint8), restart_interval=1
    )
    with pytest.raises(mc.MediaDecodeError, match="SOI"):
        mc.decode_jpeg(b"\x89PNG" + payload)
    with pytest.raises(mc.MediaDecodeError, match="truncated"):
        mc.decode_jpeg(payload[:40])
    bad = bytearray(payload)
    bad[bad.index(b"\xff\xc0") + 1] = 0xC2  # progressive SOF
    with pytest.raises(mc.MediaDecodeError, match="baseline"):
        mc.decode_jpeg(bytes(bad))
    # restart sequence corruption: bump the first RST marker's number
    bad = bytearray(payload)
    i = bad.find(b"\xff\xd0", bad.index(b"\xff\xda"))
    assert i > 0
    bad[i + 1] = 0xD5
    with pytest.raises(mc.MediaDecodeError, match="restart"):
        mc.decode_jpeg(bytes(bad))
    # entropy data cut mid-scan
    with pytest.raises(mc.MediaDecodeError, match="jpeg"):
        mc.decode_jpeg(payload[: payload.index(b"\xff\xda") + 20])


def test_jpeg_features_parity_and_resize():
    """jpeg_features of an exactly-decoding payload == ppm_features of
    the same pixels; jpeg_resize emits a decodable JPEG of the target
    dimensions (kernel-chain dispatch covered via the defaults)."""
    from beats_spark.training import multimodal

    payload, exp = _plant_jpeg(7)
    assert mc.jpeg_features(payload) == mc.ppm_features(
        mc.encode_ppm(exp.astype(np.uint8))
    )
    assert multimodal._default_decode("image", payload) == mc.jpeg_features(payload)
    out = multimodal._default_resize("image", payload, 10, 6)
    img = mc.decode_jpeg(out)
    assert img.shape == (6, 10, 3)


# --- GIF ----------------------------------------------------------------------


def test_gif_round_trip_lzw_widths_and_interlace():
    """LZW survives code-width growth, 12-bit table overflow (clear +
    reset mid-stream) and the 4-pass interlace reorder."""
    rng = np.random.RandomState(7)
    img = rng.randint(0, 4, (13, 17, 1)).repeat(3, axis=2).astype(np.uint8) * 60
    assert np.array_equal(mc.decode_gif(mc.encode_gif(img)), img)
    assert np.array_equal(mc.decode_gif(mc.encode_gif(img, interlace=[True])), img)
    # 216 colors x 60k px: the dictionary hits 4096 -> clear/reset path
    huge = (rng.randint(0, 6, (200, 300, 3)) * 51).astype(np.uint8)
    assert np.array_equal(mc.decode_gif(mc.encode_gif(huge)), huge)


def test_gif_animation_compositing_transparency_and_disposal():
    W, H = 24, 16
    bg = (10, 20, 30)
    f0 = np.full((4, W, 3), (200, 0, 0), dtype=np.uint8)
    f1 = np.full((4, W, 3), (0, 200, 0), dtype=np.uint8)
    f1[:, 1::2] = (1, 2, 3)  # transparent sentinel on odd columns
    f2 = np.full((4, W, 3), (0, 0, 200), dtype=np.uint8)
    p = mc.encode_gif(
        [f0, f1, f2],
        rects=[(0, 0), (0, 4), (0, 8)],
        canvas=(W, H),
        delays_ms=[20, 30, 40],
        transparent=[None, (1, 2, 3), None],
        local_palette=[False, False, True],
        bg=bg,
    )
    frames, delays = mc.decode_gif_frames(p)
    assert delays == [20, 30, 40] and len(frames) == 3
    c0, c1, c2 = frames
    assert tuple(c0[0, 0]) == (200, 0, 0) and tuple(c0[5, 0]) == bg
    # transparency shows the canvas through; disposal 1 leaves band 0
    assert tuple(c1[4, 0]) == (0, 200, 0) and tuple(c1[4, 1]) == bg
    assert tuple(c1[0, 0]) == (200, 0, 0)
    assert tuple(c2[8, 0]) == (0, 0, 200) and tuple(c2[0, 0]) == (200, 0, 0)

    # disposal 2 restores the region to background before the next
    # frame; disposal 3 restores it to the pre-paint snapshot
    g0 = np.full((8, 8, 3), (100, 100, 100), dtype=np.uint8)
    g1 = np.full((4, 4, 3), (250, 0, 0), dtype=np.uint8)
    g2 = np.full((4, 4, 3), (0, 250, 0), dtype=np.uint8)
    g3 = np.full((2, 2, 3), (9, 9, 9), dtype=np.uint8)
    p2 = mc.encode_gif(
        [g0, g1, g2, g3],
        rects=[(0, 0), (2, 2), (2, 2), (0, 0)],
        canvas=(8, 8),
        disposal=[1, 2, 3, 1],
        bg=(7, 7, 7),
    )
    fr, _ = mc.decode_gif_frames(p2)
    assert tuple(fr[1][2, 2]) == (250, 0, 0)
    # frame 1's disposal 2 cleared its rect to bg; frame 2 paints it
    assert tuple(fr[2][2, 2]) == (0, 250, 0) and tuple(fr[2][0, 0]) == (100, 100, 100)
    # frame 2's disposal 3 restored its rect to the pre-paint state (bg)
    assert tuple(fr[3][2, 2]) == (7, 7, 7)


def test_gif_frame_sample_features_and_resize():
    img = np.full((6, 8, 3), (40, 80, 120), dtype=np.uint8)
    img[2:4, 3:6] = (200, 10, 0)
    p = mc.encode_gif([img, img[::-1]], delays_ms=[30, 50])
    s = mc.gif_frame_sample(p, 2)
    assert [(j, ts) for j, ts, _ in s] == [(0, 0), (1, 30)]
    frames, _ = mc.decode_gif_frames(p)
    assert np.array_equal(mc.decode_ppm(s[0][2]), frames[0])
    assert np.array_equal(mc.decode_ppm(s[1][2]), frames[1])
    # n > F repeats frames (nearest sampling)
    s4 = mc.gif_frame_sample(p, 4)
    assert [x[0] for x in s4] == [0, 1, 2, 3]
    assert np.array_equal(mc.decode_ppm(s4[1][2]), frames[0])
    # features == the PPM features of the same first composited frame
    assert mc.gif_features(p) == mc.ppm_features(mc.encode_ppm(frames[0]))
    # nearest resize preserves the palette exactly
    r = mc.decode_gif(mc.gif_resize(p, 5, 3))
    assert r.shape == (3, 5, 3)
    assert set(map(tuple, r.reshape(-1, 3))) <= set(map(tuple, img.reshape(-1, 3)))


def test_gif_malformed_raises():
    img = np.zeros((4, 4, 3), dtype=np.uint8)
    good = mc.encode_gif(img)
    for bad, msg in [
        (b"GIF8", "signature|truncated"),
        (b"GIF89a" + b"\x00" * 5, "truncated"),
        (good[:-1], "trailer"),
        (good[:20], "truncated|trailer|unknown|LZW"),
        (b"GIF89a" + good[6:20] + b"\xff", "unknown block|truncated|LZW"),
    ]:
        with pytest.raises(mc.MediaDecodeError, match=msg):
            mc.decode_gif_frames(bad)
    # >256 colors cannot be palette-encoded (324 unique (r, g) pairs)
    i = np.arange(18 * 18, dtype=np.int64)
    grad = np.stack([i % 256, i // 256, np.zeros_like(i)], axis=-1)
    with pytest.raises(mc.MediaDecodeError, match="256"):
        mc.encode_gif(grad.reshape(18, 18, 3).astype(np.uint8))


def _gif_expected(d: int):
    """Expected composited frames + delays for planted doc d, from the
    pure-integer arithmetic alone (independent of the builder)."""
    nf = 2 + d % 3
    bg = tuple((17 * d + 29 * c) % 200 for c in range(3))
    delays = [10 * (1 + (d + fr) % 3) for fr in range(nf)]
    exp = []
    canvas = np.empty((16, 24, 3), dtype=np.uint8)
    canvas[:, :] = bg
    for fr in range(nf):
        col = tuple((37 * d + 11 * fr + 53 * c) % 256 for c in range(3))
        band = canvas[4 * fr : 4 * fr + 4]
        if d % 5 == 0 and fr >= 1:
            band[:, 0::2] = col
        else:
            band[:, :] = col
        exp.append(canvas.copy())
    return exp, delays


def test_gif_planted_corpus_pixel_exact():
    """The q72 pytest twin: all 48 planted animated GIFs decode and
    composite pixel-identical to the integer planting arithmetic
    (sub-rect bands, transparency, interlace, local color tables).
    Payloads come from the PRODUCTION builder (queries._gif_planted_rows)
    so an edit to the plant can't silently drift past this gate."""
    from beats_spark.queries import _gif_planted_rows

    for d, payload in _gif_planted_rows():
        exp, delays = _gif_expected(d)
        frames, got_delays = mc.decode_gif_frames(bytes(payload))
        assert got_delays == delays, f"doc {d}"
        assert len(frames) == len(exp)
        for k, (g, e) in enumerate(zip(frames, exp)):
            assert np.array_equal(g, e), f"doc {d} frame {k}"


def test_sample_frames_real_gif_kernel(spark):
    """Distributed twin: sample_frames runs the REAL GIF sampler for
    GIF payloads (timeline timestamps, PPM frames) while non-GIF
    payloads keep the byte-slice stub, and a corrupt GIF drops the
    asset, not the stage."""
    from beats_spark.training.multimodal import sample_frames

    from beats_spark.queries import _gif_planted_rows

    payload = bytes(dict(_gif_planted_rows())[3])  # 3 frames
    exp, delays = _gif_expected(3)
    rows = [
        ("gif", bytearray(payload), 9999),
        ("raw", bytearray(bytes(range(100))), 8000),
        ("badgif", bytearray(b"GIF89a-corrupt-payload"), 1),
    ]
    df = spark.createDataFrame(rows, "key string, media binary, duration_ms long")
    out = sample_frames(df, 2, duration_ms_col="duration_ms").collect()
    by = {}
    for r in out:
        by.setdefault(r["key"], {})[r["frame_idx"]] = r
    assert set(by) == {"gif", "raw"}  # corrupt asset dropped
    # GIF path: frame (j*3)//2 -> frames 0 and 1; ts from GIF delays,
    # NOT from the duration column
    assert by["gif"][0]["ts_ms"] == 0 and by["gif"][1]["ts_ms"] == 10
    f0 = mc.decode_ppm(bytes(by["gif"][0]["frame"]))
    f1 = mc.decode_ppm(bytes(by["gif"][1]["frame"]))
    assert np.array_equal(f0, exp[0]) and np.array_equal(f1, exp[1])
    # stub path unchanged: equal byte slices, duration-spaced ts
    assert by["raw"][1]["ts_ms"] == 4000
    assert bytes(by["raw"][0]["frame"]) == bytes(range(50))


# --- WEBP (VP8L lossless) ------------------------------------------------------


def test_webp_round_trip_feature_matrix():
    """decode(encode(img)) is pixel-exact across the encoder's whole
    option matrix: plain/cached/subtract-green/all 14 predictor
    modes/bundled palettes at every sub-byte width/LZ77 with raw and
    table-mapped distances/RGBA/gray-2D/1x1/wide."""
    rng = np.random.RandomState(7)

    def rt(img, **kw):
        got = mc.decode_webp(mc.encode_webp(img, **kw))
        exp = img if img.ndim == 3 else np.stack([img] * 3, axis=-1)
        assert got.shape == exp.shape and (got == exp).all(), kw

    img = rng.randint(0, 256, (4, 8, 3)).astype(np.uint8)
    for kw in (
        {},
        {"cache_bits": 4},
        {"subtract_green": True},
        {"predictor": 2, "subtract_green": True},
        {"lz77": False},
    ):
        rt(img, **kw)
    for m in range(14):
        rt(rng.randint(0, 256, (12, 12, 3)).astype(np.uint8), predictor=m)
    rt(rng.randint(0, 256, (5, 7, 4)).astype(np.uint8), predictor=7, cache_bits=3)
    # palettes at xbits 0/1/2/3 (257-, 16-, 4-, 2-color bundling)
    for ncol in (2, 4, 14, 40):
        pal = (rng.randint(0, ncol, (9, 13)) * (255 // (ncol - 1))).astype(np.uint8)
        rt(np.stack([pal, pal // 2, 255 - pal], axis=-1), palette=True)
    rt(rng.randint(0, 256, (3, 5)).astype(np.uint8))  # gray 2-D
    rt(np.array([[[1, 2, 3]]], dtype=np.uint8))  # 1x1
    vert = np.tile(rng.randint(0, 256, (1, 11, 3)).astype(np.uint8), (9, 1, 1))
    rt(vert, use_dist_map=True)  # dist=w copies through the 120-entry map
    rt(vert)  # same copies as raw dist+120 codes


def test_webp_cache_and_simple_codes():
    # alternating 2-color rows defeat dist-1 LZ77 -> the color cache
    # carries the stream; flat image -> single-symbol (zero-bit) codes
    rng = np.random.RandomState(3)
    # 64 random colors tiled -> dist-1/dist-w LZ77 never matches, the
    # cache carries the stream; big enough that payload beats headers
    pal = rng.randint(0, 256, (64, 3)).astype(np.uint8)
    idx = rng.permutation(np.tile(np.arange(64), 63))
    img = pal[idx].reshape(63, 64, 3)
    plain = mc.encode_webp(img, lz77=False)
    cached = mc.encode_webp(img, lz77=False, cache_bits=8)
    assert (mc.decode_webp(cached) == img).all()
    assert len(cached) < len(plain)
    flat = np.full((16, 16, 3), 77, dtype=np.uint8)
    tiny = mc.encode_webp(flat)
    assert (mc.decode_webp(tiny) == flat).all()
    assert len(tiny) < 60  # one literal + one 255-px LZ77 copy


def test_webp_malformed_raises():
    good = mc.encode_webp(np.zeros((4, 4, 3), dtype=np.uint8))
    for bad, msg in [
        (b"RIFX" + good[4:], "container"),
        (good[:8] + b"WAVE" + good[12:], "container"),
        (good[:12], "no VP8L"),
        (good[:12] + b"VP8 " + good[16:], "lossy"),
        (good[:12] + b"VP8X" + good[16:], "frames|truncated|VP8X"),
        (good[:20] + bytes([good[20] ^ 0xFF]) + good[21:], "signature|version|truncated|huffman|overflow|range"),
        (good[:-3], "truncated|chunk"),
    ]:
        with pytest.raises(mc.MediaDecodeError, match=msg):
            mc.decode_webp(bad)
    i = np.arange(18 * 18, dtype=np.int64)
    grad = np.stack([i % 256, i // 256, np.zeros_like(i)], axis=-1)
    with pytest.raises(mc.MediaDecodeError, match="palette"):
        mc.encode_webp(grad.reshape(18, 18, 3).astype(np.uint8), palette=True)


def test_webp_features_parity_and_resize():
    rng = np.random.RandomState(11)
    img = rng.randint(0, 256, (6, 10, 3)).astype(np.uint8)
    assert mc.webp_features(mc.encode_webp(img)) == mc.ppm_features(mc.encode_ppm(img))
    # alpha excluded from features, like PNG
    rgba = np.concatenate([img, rng.randint(0, 256, (6, 10, 1)).astype(np.uint8)], axis=-1)
    assert mc.webp_features(mc.encode_webp(rgba)) == mc.ppm_features(mc.encode_ppm(img))
    out = mc.decode_webp(mc.FORMATS["webp"].resize(mc.encode_webp(img), 5, 3))
    assert out.shape == (3, 5, 3)
    assert (out == mc.bilinear_resize(img, 5, 3)).all()
    # kernel dispatch: the default image decoder routes RIFF/WEBP here
    from beats_spark.training import multimodal as mm

    assert mm._default_decode("image", mc.encode_webp(img)) == mc.webp_features(
        mc.encode_webp(img)
    )


def test_webp_planted_corpus_pixel_exact():
    """Pure-python twin of the q73 gate: every planted doc decodes to
    exactly the gradient the oracle's arithmetic assumes."""
    from beats_spark.queries import _webp_planted_rows

    xs = np.arange(8, dtype=np.int64)[None, :]
    ys = np.arange(4, dtype=np.int64)[:, None]
    for d, payload in _webp_planted_rows():
        if d % 8 == 1:
            chans = [(d * m + 64 * ((xs + 2 * ys) % 4)) % 256 for m in (5, 11, 17)]
        else:
            chans = [(d * m + xs + 2 * ys) % 256 for m in (5, 11, 17)]
        chans = [np.broadcast_to(c, (4, 8)) for c in chans]
        if d % 4 == 3:
            chans.append(np.broadcast_to((d * 23 + xs + ys) % 256, (4, 8)))
        exp = np.stack(chans, axis=-1).astype(np.uint8)
        got = mc.decode_webp(bytes(payload))
        assert got.shape == exp.shape, d
        assert (got == exp).all(), d


# --- animated WebP (VP8X / ANIM / ANMF) ----------------------------------------


def test_webp_anim_compositing_disposal_and_blending():
    rng = np.random.RandomState(13)
    f0 = rng.randint(0, 256, (6, 8, 3)).astype(np.uint8)
    b1 = rng.randint(0, 256, (2, 8, 3)).astype(np.uint8)
    b2 = rng.randint(0, 256, (2, 4, 3)).astype(np.uint8)
    p = mc.encode_webp_anim(
        [f0, b1, b2],
        rects=[(0, 0), (0, 2), (4, 4)],
        durations_ms=[100, 50, 70],
        frame_kw=[{"cache_bits": 4}, {"subtract_green": True}, {}],
    )
    frames, durs = mc.decode_webp_frames(p)
    assert durs == [100, 50, 70] and len(frames) == 3
    assert (frames[0][..., :3] == f0).all() and (frames[0][..., 3] == 255).all()
    assert (frames[1][2:4, :, :3] == b1).all()
    assert (frames[1][0:2, :, :3] == f0[0:2]).all()  # untouched rows persist
    assert (frames[2][4:6, 4:8, :3] == b2).all()
    assert (frames[2][2:4, :, :3] == b1).all()  # no disposal: band 1 persists
    # disposal: frame 1's rect restored to the ANIM background afterwards
    p2 = mc.encode_webp_anim(
        [f0, b1, b2],
        rects=[(0, 0), (0, 2), (4, 4)],
        dispose=[False, True, False],
        bg=(9, 8, 7, 255),
    )
    fr2, _ = mc.decode_webp_frames(p2)
    assert (fr2[1][2:4, :, :3] == b1).all()  # visible while displayed
    assert (fr2[2][2:4, :, :3] == [9, 8, 7]).all()  # disposed before frame 2
    # alpha blending (integer src-over-dst): half-alpha red over opaque blue
    base = np.zeros((2, 2, 4), np.uint8)
    base[..., 2] = 200
    base[..., 3] = 255
    top = np.zeros((2, 2, 4), np.uint8)
    top[..., 0] = 100
    top[..., 3] = 128
    fr3, _ = mc.decode_webp_frames(
        mc.encode_webp_anim([base, top], no_blend=[True, False])
    )
    oa = 128 + 255 * 127 // 255
    assert fr3[1][0, 0].tolist() == [
        100 * 128 // oa,
        0,
        (200 * (255 * 127 // 255)) // oa,
        oa,
    ]
    # still payloads answer the frames API with one frame, duration 0
    sframes, sdurs = mc.decode_webp_frames(mc.encode_webp(f0))
    assert sdurs == [0] and (sframes[0] == f0).all()


def test_webp_anim_sampler_and_malformed():
    f0 = np.full((4, 6, 3), 50, np.uint8)
    b1 = np.full((2, 6, 3), 150, np.uint8)
    p = mc.encode_webp_anim([f0, b1], rects=[(0, 0), (0, 2)], durations_ms=[80, 20])
    out = mc.webp_frame_sample(p, 4)
    assert [(j, t) for j, t, _ in out] == [(0, 0), (1, 0), (2, 80), (3, 80)]
    assert all(v[:2] == b"P6" for _, _, v in out)
    assert (mc.decode_ppm(out[2][2])[2:4] == 150).all()
    # odd ANMF offsets are unencodable (the x/2 grid)
    with pytest.raises(mc.MediaDecodeError, match="even"):
        mc.encode_webp_anim([f0, b1], rects=[(0, 0), (1, 2)])
    # frame exceeding the canvas
    with pytest.raises(mc.MediaDecodeError, match="canvas"):
        mc.encode_webp_anim([f0, b1], rects=[(0, 0), (0, 4)], canvas=(6, 4))
    for mutate, msg in [
        (lambda b: b[:20], "truncated|VP8L|frames"),
        (lambda b: b.replace(b"ANIM", b"XXXX", 1), "ANMF before ANIM"),
    ]:
        with pytest.raises(mc.MediaDecodeError, match=msg):
            mc.decode_webp_frames(mutate(p))


def test_webp_anim_planted_corpus_pixel_exact():
    """Pure-python twin of the q75 gate: every sampled frame of every
    planted doc composites to exactly what the oracle assumes."""
    from beats_spark.queries import _webp_anim_planted_rows

    for d, payload in _webp_anim_planted_rows():
        nf = 2 + d % 3
        disp = d % 5 == 2 and nf >= 3
        frames, durs = mc.decode_webp_frames(bytes(payload))
        assert len(frames) == nf
        assert durs == [10 * (1 + (d + f) % 3) for f in range(nf)]
        for fi in {(j * nf) // 3 for j in range(3)}:
            img = frames[fi]
            assert img.shape == (16, 24, 4) and (img[..., 3] == 255).all()
            for b in range(4):
                if b == 0 or b > fi:
                    exp = [(17 * d + 29 * c) % 200 for c in range(3)]
                elif b == 1 and disp and fi >= 2:
                    exp = [(11 * d + 7 * c) % 256 for c in range(3)]
                else:
                    exp = [(37 * d + 11 * b + 53 * c) % 256 for c in range(3)]
                assert (img[4 * b : 4 * b + 4, :, :3] == exp).all(), (d, fi, b)


# --- header probes (no-decode metadata) -----------------------------------------


def test_probe_header_all_formats_and_mp3_frame():
    img = np.zeros((3, 7, 3), dtype=np.uint8)
    assert mc.probe_header(mc.encode_ppm(img)) == (7, 3, None)
    assert mc.probe_header(mc.encode_png(img)) == (7, 3, None)
    assert mc.probe_header(mc.encode_bmp(img)) == (7, 3, None)
    assert mc.probe_header(mc.encode_jpeg(np.zeros((8, 24, 3), np.uint8))) == (
        24,
        8,
        None,
    )
    assert mc.probe_header(mc.encode_webp(img)) == (7, 3, None)
    anim = mc.encode_webp_anim([img] * 3, durations_ms=[40, 30, 20])
    assert mc.probe_header(anim) == (7, 3, 90)
    gif = mc.encode_gif([img] * 2, delays_ms=[70, 30])
    assert mc.probe_header(gif) == (7, 3, 100)
    wav = mc.encode_wav(8000, 2, np.zeros(8000, np.int16))
    assert mc.probe_header(wav) == (None, None, 500)  # 4000 stereo frames
    # mp3: ID3v2 tag + one MPEG-1 Layer III 128kbps header + payload
    # bytes -> duration = bytes*8*1000 // 128000
    tag = b"ID3\x04\x00\x00" + bytes([0, 0, 0, 10]) + bytes(10)
    frame = bytes([0xFF, 0xFB, 0x90, 0x00]) + bytes(15996)
    assert mc.probe_header(tag + frame) == (None, None, 1000)
    # tag-only (the stub-planted corpus): no audio to measure
    assert mc.probe_header(b"ID3\x04\x00\x00\x00\x00\x00\x00xx") == (
        None,
        None,
        None,
    )
    with pytest.raises(mc.MediaDecodeError, match="unknown magic"):
        mc.probe_header(b"\x00\x01nothing")
    with pytest.raises(mc.MediaDecodeError, match="no SOF"):
        mc.probe_header(b"\xff\xd8\xff\xd9")


def test_probe_media_meta_distributed(spark):
    from beats_spark.training.multimodal import probe_media_meta

    img = np.zeros((2, 5, 3), dtype=np.uint8)
    rows = [
        ("png", bytearray(mc.encode_png(img))),
        ("anim", bytearray(mc.encode_gif([img] * 2, delays_ms=[20, 10]))),
        ("badpng", bytearray(b"\x89PNG\r\n\x1a\n\x00\x00")),
        ("blob", bytearray(b"\x00junk")),
    ]
    df = spark.createDataFrame(rows, "key string, media binary")
    out = {r["key"]: r for r in probe_media_meta(df).collect()}
    assert (out["png"].width, out["png"].height) == (5, 2)
    assert out["png"].format == "png" and out["png"].probe_error is None
    assert out["anim"].duration_ms == 30
    # malformed header for its own magic: per-row error, stage survives
    assert out["badpng"].width is None and "png" in out["badpng"].probe_error
    assert out["blob"].format == "unknown" and "magic" in out["blob"].probe_error


# --- FLAC (lossless compressed audio, RFC 9639 subset) -------------------------


def _tone(n, period, amp):
    t = np.arange(n)
    return np.round(amp * np.sin(2 * np.pi * t / period)).astype(np.int16)


def test_flac_round_trip_all_channel_modes_and_block_shapes():
    mono = _tone(1000, 64, 12000)
    payload = mc.encode_flac(44100, 1, mono)
    rate, ch, bps, dec = mc.decode_flac(payload)
    assert (rate, ch, bps) == (44100, 1, 16)
    assert (dec == mono).all()
    # a tonal signal actually compresses (fixed predictors + Rice)
    assert len(payload) < 2 * mono.size
    # stereo through every decorrelation mode (incl. the 17-bit side
    # channel and the mid/side low-bit reconstruction)
    left = _tone(900, 50, 9000)
    right = (-left // 3).astype(np.int16)
    inter = np.stack([left, right], -1).reshape(-1)
    for mode in ("indep", "left_side", "right_side", "mid_side"):
        p = mc.encode_flac(8000, 2, inter, block_size=256, channel_mode=mode)
        _, c, _, dec = mc.decode_flac(p)
        assert c == 2 and (dec == inter).all(), mode
    # incompressible noise escapes to verbatim; constant subframes
    rng = np.random.default_rng(7)
    noise = rng.integers(-32768, 32768, 300).astype(np.int16)
    assert (mc.decode_flac(mc.encode_flac(8000, 1, noise))[3] == noise).all()
    const = np.full(500, -1234, np.int16)
    assert (mc.decode_flac(mc.encode_flac(8000, 1, const))[3] == const).all()
    # int16 extremes and a non-block-multiple tail frame
    edge = np.array([32767, -32768, 0, -1, 1, 32767, -32768, 5] * 7, np.int16)
    assert (mc.decode_flac(mc.encode_flac(192000, 1, edge, block_size=16))[3] == edge).all()
    # multi-partition Rice residuals
    sig = _tone(512, 40, 5000)
    p = mc.encode_flac(8000, 1, sig, block_size=128, partition_order=2)
    assert (mc.decode_flac(p)[3] == sig).all()


def _flac_stream(subframe_writer, bs, total, rate=8000):
    """Hand-built single-frame mono 16-bit stream (zeroed MD5 → the
    decoder skips PCM verification) — exercises decoder paths the
    fixed-predictor encoder never emits (LPC, wasted bits, 5-bit Rice)."""
    wr = mc._MsbWriter()
    wr.write(1, 1)
    wr.write(0, 7)
    wr.write(34, 24)
    wr.write(bs, 16)
    wr.write(bs, 16)
    wr.write(0, 24)
    wr.write(0, 24)
    wr.write(rate, 20)
    wr.write(0, 3)
    wr.write(15, 5)
    wr.write(total, 36)
    out = bytearray(b"fLaC" + bytes(wr.buf) + b"\x00" * 16)
    fw = mc._MsbWriter()
    fw.write(0b11111111111110, 14)
    fw.write(0, 1)
    fw.write(0, 1)
    fw.write(7, 4)  # block size in 16-bit field at header end
    fw.write(0, 4)  # rate from STREAMINFO
    fw.write(0, 4)  # mono
    fw.write(0b100, 3)  # 16 bps
    fw.write(0, 1)
    fw.write(0, 8)  # coded frame index 0
    fw.write(bs - 1, 16)
    fw.write(mc._crc8(bytes(fw.buf)), 8)
    subframe_writer(fw)
    fw.align()
    fw.write(mc._crc16(bytes(fw.buf)), 16)
    return bytes(out + fw.buf)


def test_flac_decoder_lpc_wasted_bits_and_5bit_rice():
    # order-2 LPC, coefs [3,-1] shift 1, 1 wasted bit, residual coding
    # method 1 (5-bit Rice parameters), param 2
    def sub(fw):
        fw.write(0, 1)
        fw.write(33, 6)  # LPC subframe, order 33-31 = 2
        fw.write(1, 1)   # wasted-bits flag
        fw.write_unary(0)  # wasted = 1 -> effective bps 15
        fw.write(50, 15)
        fw.write(55, 15)
        fw.write(3 - 1, 4)  # coefficient precision 3
        fw.write(1, 5)      # shift 1
        fw.write(3, 3)
        fw.write(-1, 3)
        fw.write(1, 2)      # residual method 1
        fw.write(0, 4)      # partition order 0
        fw.write(2, 5)      # Rice param 2
        for r in (5, -3):
            u = (r << 1) if r >= 0 else (-(r << 1) - 1)
            fw.write_unary(u >> 2)
            fw.write(u, 2)

    rate, ch, bps, dec = mc.decode_flac(_flac_stream(sub, bs=4, total=4))
    # x2 = 5 + ((3*55 - 50) >> 1) = 62; x3 = -3 + ((3*62 - 55) >> 1) = 62;
    # all << 1 wasted bit
    assert (rate, ch, bps) == (8000, 1, 16)
    assert dec.tolist() == [100, 110, 124, 124]


def test_flac_malformed_and_integrity_raises():
    base = mc.encode_flac(8000, 1, _tone(200, 40, 4000))

    def flip(off):
        raw = bytearray(base)
        raw[off] ^= 1
        return bytes(raw)

    with pytest.raises(mc.MediaDecodeError, match="bad magic"):
        mc.decode_flac(b"fLaX" + base[4:])
    # STREAMINFO MD5 byte (offset 8+18=26): decoded PCM no longer matches
    with pytest.raises(mc.MediaDecodeError, match="MD5 mismatch"):
        mc.decode_flac(flip(30))
    # STREAMINFO total-samples low byte (body[13..17] hold the 36-bit total)
    with pytest.raises(mc.MediaDecodeError, match="STREAMINFO says"):
        mc.decode_flac(flip(25))
    # frame-header blocking-strategy bit (sync stays valid) -> CRC-8
    with pytest.raises(mc.MediaDecodeError, match="CRC-8 mismatch"):
        mc.decode_flac(flip(43))
    # frame footer CRC-16 itself
    with pytest.raises(mc.MediaDecodeError, match="CRC-16 mismatch"):
        mc.decode_flac(flip(len(base) - 1))
    with pytest.raises(mc.MediaDecodeError, match="truncated"):
        mc.decode_flac(base[:-6])
    # resource guard: hostile STREAMINFO total before any frame decode
    big = bytearray(base)
    big[22] |= 0xF0  # total-samples high bits
    with pytest.raises(mc.MediaDecodeError, match="sample cap"):
        mc.decode_flac(bytes(big))


# --- IMA ADPCM (WAVE format tag 0x11) ------------------------------------------


def test_ima_adpcm_step_table_hand_vectors():
    # hand-stepped against the public IMA/DVI spec arithmetic
    assert mc._ima_step_nibble(0, 0, 3) == (4, 0)        # step 7: 0+3+1
    assert mc._ima_step_nibble(4, 0, 0xF) == (-7, 8)     # sign bit, idx +8
    assert mc._ima_step_nibble(-7, 88, 4) == (32767, 88)  # clamp both
    assert mc._IMA_STEPS[0] == 7 and mc._IMA_STEPS[88] == 32767
    assert len(mc._IMA_STEPS) == 89


def test_ima_adpcm_round_trip_quality_and_fact_trim():
    sig = _tone(700, 200, 500)
    p = mc.encode_wav_ima_adpcm(8000, 1, sig)
    rate, ch, dec = mc.decode_wav(p)
    # fact chunk trims the pad-extended final block to the true count
    assert (rate, ch) == (8000, 1) and dec.size == 700
    assert dec.dtype == np.int16
    err = dec.astype(np.int64) - sig
    snr = 10 * np.log10(
        np.square(sig.astype(np.int64)).sum() / max(1, int(np.square(err).sum()))
    )
    assert snr > 20
    assert (mc.decode_wav(p)[2] == dec).all()  # decode is deterministic
    # 4-bit nibbles: under half the PCM16 bytes even with the final
    # block pad-extended (700 frames -> 2×505-sample blocks)
    assert len(p) < len(mc.encode_wav(8000, 1, sig)) // 2
    # stereo interleave round-trips per channel
    left = np.linspace(0, 2000, 600).astype(np.int16)
    inter = np.stack([left, (-left).astype(np.int16)], -1).reshape(-1)
    p2 = mc.encode_wav_ima_adpcm(16000, 2, inter, block_align=128)
    rate, ch, dec = mc.decode_wav(p2)
    assert (rate, ch) == (16000, 2) and dec.size == 1200
    assert np.abs(dec[0::2].astype(np.int64) - left).mean() < 16
    assert np.abs(dec[1::2].astype(np.int64) + left).mean() < 16


def test_ima_adpcm_malformed_raises():
    p = bytearray(mc.encode_wav_ima_adpcm(8000, 1, np.zeros(16, np.int16)))
    # fmt body starts at offset 20: [18:20] of the body = samples_per_block
    spb_off = 20 + 18
    p[spb_off] ^= 0xFF
    with pytest.raises(mc.MediaDecodeError, match="samples_per_block"):
        mc.decode_wav(bytes(p))
    with pytest.raises(ValueError, match="block_align"):
        mc.encode_wav_ima_adpcm(8000, 2, np.zeros(8, np.int16), block_align=10)


def test_flac_adpcm_features_and_header_probe():
    s = _tone(800, 100, 3000)
    # lossless FLAC of the same samples -> identical feature vector
    assert mc.flac_features(mc.encode_flac(44100, 1, s)) == mc.wav_features(
        mc.encode_wav(44100, 1, s)
    )
    # header-only duration probes (no frame decode)
    assert mc.probe_header(mc.encode_flac(8000, 1, np.zeros(4000, np.int16))) == (
        None,
        None,
        500,
    )
    adpcm = mc.encode_wav_ima_adpcm(8000, 1, np.zeros(700, np.int16))
    assert mc.probe_header(adpcm) == (None, None, 87)  # fact = 700 frames
    # features route ADPCM payloads through the block decoder
    assert mc.wav_features(adpcm)[:4] == [2.0, 700.0, 8000.0, 1.0]


def test_flac_sniffed_and_decoded_as_audio(spark):
    from beats_spark.training.multimodal import extract_features, sniff_media_meta

    s = _tone(64, 16, 2000)
    rows = [
        ("flac", bytearray(mc.encode_flac(8000, 1, s))),
        ("adpcm", bytearray(mc.encode_wav_ima_adpcm(8000, 1, s))),
    ]
    df = spark.createDataFrame(rows, "key string, media binary")
    sniffed_df = sniff_media_meta(df)
    sniffed = {r["key"]: r for r in sniffed_df.collect()}
    assert sniffed["flac"].media_meta.format == "flac"
    assert sniffed["flac"].media_meta.kind == "audio"
    assert sniffed["adpcm"].media_meta.format == "wav"
    kinds = sniffed_df.select(
        "key", "media", sniffed_df.media_meta.kind.alias("kind")
    )
    out = {
        r["key"]: r
        for r in extract_features(kinds, kind_col="kind").collect()
    }
    expect = mc.wav_features(mc.encode_wav(8000, 1, s))

    def ints(feat):
        return [round(v * 1e6) for v in feat]

    assert ints(out["flac"].feat) == ints(expect)
    assert out["flac"].decode_error is None
    assert out["adpcm"].decode_error is None
    assert ints(out["adpcm"].feat)[:1] == [2_000_000]


# --- AVI (raw-DIB video container) ----------------------------------------------


def test_avi_round_trip_padding_and_timing():
    rng = np.random.default_rng(11)
    # width 7 -> 21-byte rows padded to 24 (the 4-byte DIB stride)
    frames = [rng.integers(0, 256, (5, 7, 3)).astype(np.uint8) for _ in range(4)]
    p = mc.encode_avi(frames, us_per_frame=33000)
    dec, uspf = mc.decode_avi_frames(p)
    assert uspf == 33000 and len(dec) == 4
    for a, b in zip(frames, dec):
        assert (a == b).all()
    # single frame, stride-aligned width
    one = [np.arange(4 * 4 * 3, dtype=np.uint8).reshape(4, 4, 3)]
    dec, _ = mc.decode_avi_frames(mc.encode_avi(one))
    assert (dec[0] == one[0]).all()


def test_avi_features_probe_and_ppm_parity():
    img = np.full((4, 8, 3), 51, np.uint8)
    p = mc.encode_avi([img, img, img], us_per_frame=40000)
    f = mc.avi_features(p)
    # stills of one constant image: channel ppms equal the PPM kernel's
    assert f[:3] == [3.0, 8.0, 4.0]
    assert f[3:6] == mc.ppm_features(mc.encode_ppm(img))[3:6]
    assert f[6:] == [3.0, 120.0]  # n_frames, duration_ms
    assert mc.probe_header(p) == (8, 4, 120)


def test_avi_frame_sample_real_pixels_and_timeline():
    frames = [np.full((2, 3, 3), 40 * k, np.uint8) for k in range(5)]
    p = mc.encode_avi(frames, us_per_frame=20000)
    out = mc.avi_frame_sample(p, 3)
    # nearest sampling picks source frames (j*F)//n = 0, 1, 3; ts =
    # fi * 20ms on the container timeline; j stays the sample index
    assert [(j, ts) for j, ts, _ in out] == [(0, 0), (1, 20), (2, 60)]
    for (_, _, ppm), fi in zip(out, (0, 1, 3)):
        assert (mc.decode_ppm(ppm) == frames[fi]).all()


def test_avi_resize_real_kernel():
    src = np.zeros((1, 2, 3), dtype=np.uint8)
    src[0, 1] = 200
    p = mc.avi_resize(mc.encode_avi([src, src], 12000), 4, 1)
    dec, uspf = mc.decode_avi_frames(p)
    assert uspf == 12000 and len(dec) == 2
    assert dec[0][0, :, 0].tolist() == [0, 50, 150, 200]  # bilinear


def test_avi_malformed_raises():
    img = np.zeros((2, 2, 3), np.uint8)
    base = mc.encode_avi([img, img], 40000)
    with pytest.raises(mc.MediaDecodeError, match="not a RIFF/AVI"):
        mc.decode_avi_frames(b"RIFF\x04\x00\x00\x00WAVE")
    with pytest.raises(mc.MediaDecodeError, match="missing avih"):
        mc.decode_avi_frames(b"RIFF\x04\x00\x00\x00AVI ")
    # compressed handler rejected (flip biCompression in strf)
    comp = bytearray(base)
    strf_val = comp.index(b"strf")
    comp[strf_val + 8 + 16] = 1
    with pytest.raises(mc.MediaDecodeError, match="only raw 24-bit"):
        mc.decode_avi_frames(bytes(comp))
    # frame-count mismatch vs avih
    cut = bytearray(base)
    avih = cut.index(b"avih")
    cut[avih + 8 + 16] = 9  # dwTotalFrames
    with pytest.raises(mc.MediaDecodeError, match="avih says"):
        mc.decode_avi_frames(bytes(cut))
    # hostile header: huge dims refused BEFORE any raster work
    big = bytearray(base)
    big[avih + 8 + 32 : avih + 8 + 36] = (1 << 20).to_bytes(4, "little")
    big[avih + 8 + 36 : avih + 8 + 40] = (1 << 20).to_bytes(4, "little")
    with pytest.raises(mc.MediaDecodeError, match="pixel cap"):
        mc.decode_avi_frames(bytes(big))
    # truncated frame chunk
    with pytest.raises(mc.MediaDecodeError, match="truncated chunk"):
        mc.decode_avi_frames(base[:-20])


def test_avi_sniff_sample_and_resize_distributed(spark):
    from beats_spark.training.multimodal import (
        extract_features,
        probe_media_meta,
        resize_media,
        sample_frames,
        sniff_media_meta,
    )

    frames = [np.full((2, 3, 3), 60 * k, np.uint8) for k in range(3)]
    rows = [
        ("vid", bytearray(mc.encode_avi(frames, us_per_frame=50000))),
        ("bad", bytearray(b"RIFF\x08\x00\x00\x00AVI zzzz")),
    ]
    df = spark.createDataFrame(rows, "key string, media binary")
    sniffed = sniff_media_meta(df)
    meta = {r["key"]: r for r in sniffed.collect()}
    assert meta["vid"].media_meta.kind == "video"
    assert meta["vid"].media_meta.format == "avi"
    # probe fills dims + duration from the avih header alone
    probed = {r["key"]: r for r in probe_media_meta(df).collect()}
    assert (probed["vid"].width, probed["vid"].height) == (3, 2)
    assert probed["vid"].duration_ms == 150
    assert "avih" in probed["bad"].probe_error
    # real video features through the default video kernel
    kinds = sniffed.select(
        "key", "media", sniffed.media_meta.kind.alias("kind")
    )
    feats = {r["key"]: r for r in extract_features(kinds, kind_col="kind").collect()}
    assert [round(v) for v in feats["vid"].feat[:3]] == [3, 3, 2]
    assert feats["bad"].feat is None and "avih" in feats["bad"].decode_error
    # real frame sampling: 3 frames with container timestamps
    samp = (
        sample_frames(df.filter("key = 'vid'"), 3)
        .orderBy("frame_idx")
        .collect()
    )
    assert [r["ts_ms"] for r in samp] == [0, 50, 100]
    assert (mc.decode_ppm(bytes(samp[2]["frame"])) == frames[2]).all()
    # real per-frame resize via the video dispatch
    rz = resize_media(
        kinds.filter("key = 'vid'"), 6, 4, kind_col="kind"
    ).collect()[0]
    rdec, _ = mc.decode_avi_frames(bytes(rz["media"]))
    assert len(rdec) == 3 and rdec[0].shape == (4, 6, 3)


# --- MP4 / ISO BMFF header probe -------------------------------------------------


def test_mp4_header_probe_both_versions_and_largesize():
    for ver in (0, 1):
        p = mc.encode_mp4_meta(640, 360, 5400, timescale=90000, version=ver)
        assert mc.probe_header(p) == (640, 360, 5400), ver
    # non-integer-ms duration floors like the planting arithmetic
    p = mc.encode_mp4_meta(8, 4, 333, timescale=1000)
    assert mc.probe_header(p) == (8, 4, 333)
    # 64-bit largesize box header on the moov path
    p = bytearray(mc.encode_mp4_meta(12, 7, 250))
    moov = p.index(b"moov") - 4
    size = int.from_bytes(p[moov : moov + 4], "big")
    big = (
        bytes(p[:moov])
        + (1).to_bytes(4, "big")
        + b"moov"
        + (size + 8).to_bytes(8, "big")
        + bytes(p[moov + 8 : moov + size])
        + bytes(p[moov + size :])
    )
    assert mc.probe_header(big) == (12, 7, 250)


def test_mp4_malformed_raises():
    base = mc.encode_mp4_meta(4, 4, 100)
    ftyp_len = int.from_bytes(base[0:4], "big")
    with pytest.raises(mc.MediaDecodeError, match="missing moov"):
        mc.probe_header(base[:ftyp_len])
    bad = bytearray(base)
    mvhd = bad.index(b"mvhd") + 4
    bad[mvhd + 12 : mvhd + 16] = (0).to_bytes(4, "big")  # timescale 0
    with pytest.raises(mc.MediaDecodeError, match="zero mvhd timescale"):
        mc.probe_header(bytes(bad))
    with pytest.raises(mc.MediaDecodeError, match="bad box size"):
        mc.probe_header(base[: ftyp_len + 12])  # truncated moov


def test_mp4_sniffed_and_probed_distributed(spark):
    from beats_spark.training.multimodal import probe_media_meta, sniff_media_meta

    rows = [
        ("clip", bytearray(mc.encode_mp4_meta(1920, 1080, 60000, version=1))),
        ("badmp4", bytearray(b"\x00\x00\x00\x14ftypisom" + bytes(12))),
    ]
    df = spark.createDataFrame(rows, "key string, media binary")
    meta = {r["key"]: r for r in sniff_media_meta(df).collect()}
    assert meta["clip"].media_meta.format == "mp4"
    assert meta["clip"].media_meta.kind == "video"
    probed = {r["key"]: r for r in probe_media_meta(df).collect()}
    assert (probed["clip"].width, probed["clip"].height) == (1920, 1080)
    assert probed["clip"].duration_ms == 60000
    assert "moov" in probed["badmp4"].probe_error


# --- review-pass regressions (session 2 findings) ---------------------------------


def test_flac_partition_order_demotes_on_short_tail_blocks():
    # RFC 9639: bs >> porder must exceed the predictor order at EVERY
    # porder. A 16-sample tail block at partition_order=3 leaves
    # 16/8 - order <= 0 for order >= 2 — the encoder must demote, not
    # emit a stream that desyncs its own CRC.
    edge = np.array([32767, -32768, 0, -1, 1, 32767, -32768, 5] * 7, np.int16)
    for po in (1, 2, 3):
        p = mc.encode_flac(192000, 1, edge, block_size=16, partition_order=po)
        assert (mc.decode_flac(p)[3] == edge).all(), po
    # tail-block case: 4096 + 24 samples, porder 3 on the 24-sample tail
    sig = _tone(4096 + 24, 64, 9000)
    p = mc.encode_flac(8000, 1, sig, block_size=4096, partition_order=3)
    assert (mc.decode_flac(p)[3] == sig).all()


def test_avi_top_down_raster_and_audio_first_strf():
    img = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)
    base = bytearray(mc.encode_avi([img], 40000))
    # negative biHeight = top-down rows: the stored raster (bottom-up
    # of img) must now be read as-is, i.e. decode == img flipped
    strf = base.index(b"strf")
    h_off = strf + 8 + 8
    base[h_off : h_off + 4] = (-2).to_bytes(4, "little", signed=True)
    dec, _ = mc.decode_avi_frames(bytes(base))
    assert (dec[0] == img[::-1]).all()
    # an audio strl BEFORE the video strl: its strf (WAVEFORMATEX-like)
    # must not be parsed as a BITMAPINFOHEADER
    raw = mc.encode_avi([img], 40000)
    hdrl = raw.index(b"hdrl")
    hdrl_lo = hdrl - 8
    hdrl_size = int.from_bytes(raw[hdrl - 4 : hdrl], "little")
    strl = raw.index(b"strl") - 8
    wave_fmt = (1).to_bytes(2, "little") * 2 + (8000).to_bytes(4, "little") + bytes(8)
    auds = (
        b"strh" + (56).to_bytes(4, "little") + b"auds" + bytes(52)
        + b"strf" + len(wave_fmt).to_bytes(4, "little") + wave_fmt
    )
    auds_strl = b"LIST" + (4 + len(auds)).to_bytes(4, "little") + b"strl" + auds
    new_hdrl_body = raw[hdrl + 4 : strl] + auds_strl + raw[strl : hdrl + 4 + hdrl_size - 4]
    new_hdrl = b"LIST" + (4 + len(new_hdrl_body)).to_bytes(4, "little") + b"hdrl" + new_hdrl_body
    body = raw[12:hdrl_lo] + new_hdrl + raw[hdrl_lo + 8 + hdrl_size :]
    rebuilt = b"RIFF" + (4 + len(body)).to_bytes(4, "little") + b"AVI " + body
    dec, uspf = mc.decode_avi_frames(rebuilt)
    assert uspf == 40000 and (dec[0] == img).all()


def test_adpcm_short_final_block_decodes():
    # spec-legal foreign layout: the final block carries only the
    # remaining samples instead of being pad-extended. 130 samples at
    # block_align 64 (spb=121): full block + 8-byte block (1 header
    # sample + one 4-byte run = 9 samples).
    sig = np.linspace(-900, 900, 242).astype(np.int16)
    full = mc.encode_wav_ima_adpcm(8000, 1, sig, block_align=64)
    data_at = full.index(b"data")
    data = full[data_at + 8 : data_at + 8 + 128]
    short = data[:64] + data[64:72]
    fact = (130).to_bytes(4, "little")
    fmt_at = full.index(b"fmt ")
    fmt_chunk = full[fmt_at : fmt_at + 8 + 20]
    body = (
        b"WAVE" + fmt_chunk
        + b"fact" + (4).to_bytes(4, "little") + fact
        + b"data" + len(short).to_bytes(4, "little") + short
    )
    wav = b"RIFF" + len(body).to_bytes(4, "little") + body
    rate, ch, dec = mc.decode_wav(wav)
    assert (rate, ch, dec.size) == (8000, 1, 130)
    # identical prefix to the pad-extended stream's first 130 samples
    assert (dec == mc.decode_wav(full)[2][:130]).all()
    # a short MID-STREAM fragment is still an error (fact 260 > frames)
    bad_fact = (260).to_bytes(4, "little")
    body = (
        b"WAVE" + fmt_chunk
        + b"fact" + (4).to_bytes(4, "little") + bad_fact
        + b"data" + len(short).to_bytes(4, "little") + short
    )
    with pytest.raises(mc.MediaDecodeError, match="fact count exceeds"):
        mc.decode_wav(b"RIFF" + len(body).to_bytes(4, "little") + body)


def test_mp4_audio_first_trak_dims():
    p = mc.encode_mp4_meta(64, 32, 500)
    trak_at = p.index(b"trak") - 4
    trak_size = int.from_bytes(p[trak_at : trak_at + 4], "big")
    trak = p[trak_at : trak_at + trak_size]
    trak0 = bytearray(trak)
    trak0[-8:] = bytes(8)  # an audio/hint track: 0x0 presentation size
    moov_at = p.index(b"moov") - 4
    moov_size = int.from_bytes(p[moov_at : moov_at + 4], "big")
    new_body = (
        p[moov_at + 8 : trak_at] + bytes(trak0) + trak
        + p[trak_at + trak_size : moov_at + moov_size]
    )
    rebuilt = (
        p[:moov_at]
        + (8 + len(new_body)).to_bytes(4, "big") + b"moov" + new_body
        + p[moov_at + moov_size :]
    )
    # dims come from the first VISUAL trak, not the 0x0 audio one
    assert mc.probe_header(rebuilt) == (64, 32, 500)


# --- Ogg/Vorbis header probe -------------------------------------------------------


def test_ogg_header_probe_and_crc():
    p = mc.encode_ogg_vorbis_meta(44100, 2, 441000)
    assert mc.probe_header(p) == (None, None, 10000)
    # multi-page: duration comes from the FINAL granule, not a middle one
    p3 = mc.encode_ogg_vorbis_meta(8000, 1, 12000, n_audio_pages=3)
    assert mc.probe_header(p3) == (None, None, 1500)
    # real page CRC (0x04c11db7, unreflected): any flipped bit is caught
    bad = bytearray(p)
    bad[40] ^= 1
    with pytest.raises(mc.MediaDecodeError, match="CRC mismatch"):
        mc.probe_header(bytes(bad))
    with pytest.raises(mc.MediaDecodeError, match="truncated page body"):
        mc.probe_header(p[:-3])
    # a stream whose first packet is not a vorbis id header
    hdr = bytearray(p)
    idp = hdr.index(b"\x01vorbis")
    hdr[idp] = 0x03
    # re-CRC the tampered first page so only the GRAMMAR check fires
    nseg = hdr[26]
    page_end = 27 + nseg + sum(hdr[27 : 27 + nseg])
    hdr[22:26] = bytes(4)
    hdr[22:26] = mc._ogg_crc(bytes(hdr[:page_end])).to_bytes(4, "little")
    with pytest.raises(mc.MediaDecodeError, match="not a vorbis id header"):
        mc.probe_header(bytes(hdr))
    # id-only stream: rate known, no granule -> unknown duration
    assert mc.probe_header(
        mc.encode_ogg_vorbis_meta(8000, 1, 0, n_audio_pages=1)
    ) == (None, None, None)


def test_ogg_probed_distributed(spark):
    from beats_spark.training.multimodal import probe_media_meta

    rows = [
        ("song", bytearray(mc.encode_ogg_vorbis_meta(48000, 2, 96000))),
        ("badogg", bytearray(b"OggS\x00\x00" + bytes(30))),
    ]
    df = spark.createDataFrame(rows, "key string, media binary")
    out = {r["key"]: r for r in probe_media_meta(df).collect()}
    assert out["song"].format == "ogg" and out["song"].duration_ms == 2000
    assert out["song"].width is None
    assert "ogg" in out["badogg"].probe_error


def test_g711_anchors_and_byte_round_trip():
    # ITU-T G.711 well-known anchors: silence bytes, extremes
    assert mc._ulaw_decode_byte(0xFF) == 0
    assert mc._ulaw_decode_byte(0x00) == -32124
    assert mc._ulaw_decode_byte(0x80) == 32124
    assert mc._alaw_decode_byte(0xD5) == 8
    assert mc._alaw_decode_byte(0x55) == -8
    assert mc._alaw_decode_byte(0xAA) == 32256
    assert mc._alaw_decode_byte(0x2A) == -32256
    for law in ("ulaw", "alaw"):
        for b in range(256):
            d = mc.g711_decode(bytes([b]), law)
            e = mc.g711_encode(d, law)[0]
            if law == "ulaw" and b == 0x7F:
                # negative zero canonicalizes to 0xFF
                assert e == 0xFF
            else:
                assert e == b, (law, b, int(d[0]), e)


def test_g711_nearest_grid_quantizer():
    rng = np.random.default_rng(11)
    x = rng.integers(-32768, 32768, 4000)
    for law in ("ulaw", "alaw"):
        d = mc.g711_decode(mc.g711_encode(x, law), law).astype(np.int64)
        grid = np.sort(mc._G711[law][0])
        xc = np.clip(x, grid[0], grid[-1])
        pos = np.searchsorted(grid, xc)
        lo = grid[np.maximum(pos - 1, 0)]
        hi = grid[np.minimum(pos, grid.size - 1)]
        best = np.minimum(np.abs(xc - lo), np.abs(hi - xc))
        assert np.all(np.abs(d - xc) <= best), law


def test_g711_wav_end_to_end_and_probe():
    # on-grid samples round-trip EXACTLY through the WAV container
    e = np.arange(240) % 8
    m = (7 * np.arange(240)) % 16
    v = ((8 * m + 132) << e) - 132
    sig = np.where(np.arange(240) % 2 == 0, v, -v).astype(np.int16)
    p = mc.encode_wav_g711(8000, 1, sig, law="ulaw")
    rate, ch, out = mc.decode_wav(p)
    assert (rate, ch) == (8000, 1)
    assert np.array_equal(out.astype(np.int64), sig.astype(np.int64))
    # header probe: fact chunk gives the frame count without decode
    assert mc.probe_header(p) == (None, None, 30)  # 240 frames / 8000 Hz → 30 ms
    # A-law stereo: interleaved, block_align == channels
    a = np.where(np.arange(200) % 2 == 0, 8, -8).astype(np.int16)
    p2 = mc.encode_wav_g711(16000, 2, a, law="alaw")
    rate2, ch2, out2 = mc.decode_wav(p2)
    assert (rate2, ch2) == (16000, 2)
    assert np.array_equal(out2.astype(np.int64), a.astype(np.int64))
    assert mc.wav_features(p)[:4] == [2.0, 240.0, 8000.0, 1.0]


@pytest.mark.parametrize("n", [1, 3, 5])
def test_g711_odd_data_gets_riff_pad_byte(n):
    sig = np.where(np.arange(n) % 2 == 0, 8, -8).astype(np.int16)
    p = mc.encode_wav_g711(8000, 1, sig, law="alaw")
    assert len(p) % 2 == 0
    assert int.from_bytes(p[4:8], "little") == len(p) - 8
    assert np.array_equal(mc.decode_wav(p)[2].astype(np.int64), sig.astype(np.int64))
    # a chunk appended after `data` starts on the word boundary
    extra = b"LIST" + (4).to_bytes(4, "little") + b"INFO"
    q = b"RIFF" + (len(p) - 8 + len(extra)).to_bytes(4, "little") + p[8:] + extra
    chunks = [(cc, q[lo:hi]) for cc, lo, hi in mc._riff_chunks(q, 12, len(q), "wav")]
    assert [cc for cc, _ in chunks] == [b"fmt ", b"fact", b"data", b"LIST"]
    assert len(chunks[2][1]) == n and chunks[3][1] == b"INFO"
    assert np.array_equal(mc.decode_wav(q)[2].astype(np.int64), sig.astype(np.int64))


def test_g711_malformed_raises():
    p = bytearray(mc.encode_wav_g711(8000, 1, np.zeros(16, np.int16)))
    p[34] = 16  # bits 8 → 16 in the fmt chunk
    with pytest.raises(mc.MediaDecodeError):
        mc.decode_wav(bytes(p))
