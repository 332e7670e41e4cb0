"""Multimodal columns: image/audio/video as opaque binary + typed
metadata; decode/feature-extract as Arrow-batched mapInPandas stages.

Decode kernels: PPM (P6), 24-bit BMP, PNG (zlib + unfilter), baseline
JPEG (Huffman + IDCT), GIF (LZW, incl. animation) and lossless WebP
(VP8L) images — every image format of the format table — plus PCM16
WAV / IMA ADPCM / FLAC audio and raw-DIB AVI video decode FOR REAL
via the pure-numpy codecs in media_codecs.py (decode + resize +
re-encode); animated GIFs, animated WebPs and raw-DIB AVIs make
sample_frames a real frame sampler. The remaining PERCEPTUAL formats
(mp3/ogg audio, lossy VP8 WebP, h264-class compressed video) still
need a registered kernel (`register_decoder`, e.g.
PIL/torchaudio/ffmpeg in a real deployment); for those the
deterministic byte-hash stub
remains as the documented fallback so the plumbing — schema,
partitioning, batch shape, UDF signatures — is exercised for every
kind.

Formats, their kinds and their kernels are declared once, in
media_codecs.FORMATS; the native sniff (sniff_media_meta), the
worker-side dispatch (_sniff_one, _kernel, _real_frame_sample) and
the header probe (probe_media_meta) all read that table.

Schema convention:
    media: binary                 -- the opaque payload
    media_meta: struct<kind:string, format:string, width:int,
                       height:int, duration_ms:int>
"""

from __future__ import annotations

import functools
from typing import Callable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from beats_spark.training import media_codecs

MEDIA_META_DDL = (
    "struct<kind:string, format:string, width:int, height:int, duration_ms:int>"
)

FEATURE_SCHEMA = (
    "key string, kind string, n_bytes long, checksum long, "
    "feat array<float>, decode_error string"
)

_DECODERS: dict[str, Callable[[bytes], list[float]]] = {}


def register_decoder(kind: str, fn: Callable[[bytes], list[float]]) -> None:
    """Plug in a real decoder (e.g. PIL image → pixel features)."""
    _DECODERS[kind] = fn


def poly_checksum(payload: bytes) -> int:
    """Engine-portable payload checksum: left fold (acc*31 + byte) mod
    2^31-1. Chosen over zlib.crc32 so a SQL oracle (DuckDB list_reduce
    over hex-extracted bytes) reproduces it bit-exactly — every
    intermediate stays < 2^36, safe in int64 on any engine."""
    acc = 0
    for byte in payload:
        acc = (acc * 31 + byte) % 2147483647
    return acc


def _fake_decode(payload: bytes, dim: int = 8) -> list[float]:
    """Deterministic stand-in: byte-histogram lane sums, ppm-quantized.

    feat[j] = ppm_j / 1e6 with ppm_j = (1_000_000 * sum of bytes at
    positions ≡ j mod dim) // (255 * max(len//dim, 1)) — pure integer
    arithmetic up to the final exact division, so any engine (Python,
    Spark, DuckDB) re-derives the identical doubles; no banker-rounding
    dependence. Replace via register_decoder in a real deployment."""
    if not payload:
        return [0.0] * dim
    acc = [0] * dim
    for i, byte in enumerate(payload):
        acc[i % dim] += byte
    n = max(len(payload) // dim, 1)
    return [((1_000_000 * a) // (255 * n)) / 1e6 for a in acc]


def _kernel(field: str, kind: str, payload: bytes):
    """The real `field` kernel (features / resize) of the payload's
    sniffed format (media_codecs.FORMATS) when that format is of
    `kind`, else None: a WAV payload in an image row, or mp3/ogg/mp4
    with no kernel yet, gets the byte-hash stub."""
    fmt = media_codecs.sniff(payload)
    return getattr(fmt, field) if fmt is not None and fmt.kind == kind else None


def _default_decode(kind: str, payload: bytes) -> list[float]:
    return (_kernel("features", kind, payload) or _fake_decode)(payload)


def _real_decode(kind: str):
    fn = _DECODERS.get(kind)
    if fn is not None:
        return fn
    if kind in ("image", "audio", "video"):
        return functools.partial(_default_decode, kind)
    raise NotImplementedError(f"no decoder registered for media kind {kind!r}")


def sniff_media_meta(df: DataFrame, media_col: str = "media") -> DataFrame:
    """Magic-byte container sniff (native expressions, no decode):
    fills media_meta.kind/format from the payload prefix. Built from
    media_codecs.FORMATS, the table the worker-side dispatch (_sniff_one)
    reads too; RIFF is a container, so its entries also match the form
    type at bytes 9-12 (a bare-RIFF→wav mapping would misclass every
    webp)."""
    b = F.col(media_col)

    def magic(sig: bytes, off: int) -> "F.Column":
        # compare hex of the binary prefix — a string cast would mangle
        # non-UTF8 magic bytes
        return F.hex(F.substring(b, off + 1, len(sig))) == sig.hex().upper()

    riff_form = F.hex(F.substring(b, 9, 4))
    fmt = None
    kinds = {}
    for f in media_codecs.FORMATS.values():
        cond = magic(f.magic, f.magic_at)
        if f.riff_form is not None:
            cond = cond & (riff_form == f.riff_form.hex().upper())
        name = F.lit(f.name)
        fmt = F.when(cond, name) if fmt is None else fmt.when(cond, name)
        kinds.setdefault(f.kind, []).append(f.name)
    fmt = fmt.otherwise(F.lit("unknown"))
    kind = None
    for k, names in kinds.items():
        cond = fmt.isin(*names)
        kind = F.when(cond, F.lit(k)) if kind is None else kind.when(cond, F.lit(k))
    kind = kind.otherwise(F.lit("unknown"))
    meta = F.named_struct(
        F.lit("kind"), kind,
        F.lit("format"), fmt,
        F.lit("width"), F.lit(None).cast("int"),
        F.lit("height"), F.lit(None).cast("int"),
        F.lit("duration_ms"), F.lit(None).cast("int"),
    )
    return df.withColumn("media_meta", meta)


def extract_features(
    df: DataFrame,
    key_col: str = "key",
    media_col: str = "media",
    kind_col: str | None = None,
    default_kind: str = "image",
    batch_partitions: int | None = None,
) -> DataFrame:
    """mapInPandas feature extraction over binary media.

    Arrow-batched: each pandas batch decodes payloads vectorized-ish
    (per-batch loop in worker Python — the decode itself is C-library
    work in a real deployment). Repartition first so batches are
    balanced across executors (media rows are fat; row-count-based
    splits beat byte-based here).
    """
    import pandas as pd

    from beats_spark._pickle import ensure_udf_portable

    ensure_udf_portable()

    cols = [key_col, media_col] + ([kind_col] if kind_col else [])
    src = df.select(*cols)
    if batch_partitions:
        src = src.repartition(batch_partitions)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            keys, kinds, n_bytes, checksums, feats, errs = [], [], [], [], [], []
            key_vals = b[key_col].tolist()
            media_vals = b[media_col].tolist()
            kind_vals = b[kind_col].tolist() if kind_col else None
            for idx in range(len(b)):
                raw = media_vals[idx]
                payload = bytes(raw) if raw is not None else b""
                kind = kind_vals[idx] if kind_vals is not None else default_kind
                keys.append(key_vals[idx])
                kinds.append(kind)
                n_bytes.append(len(payload))
                checksums.append(poly_checksum(payload))
                # catch Exception, not just NotImplementedError: a real
                # kernel raising on corrupt media is the common failure
                # and must land in decode_error, not kill the stage
                # (ADVICE r03)
                try:
                    feats.append(_real_decode(kind)(payload))
                    errs.append(None)
                except Exception as e:  # noqa: BLE001 — recorded per-row
                    feats.append(None)
                    errs.append(f"{type(e).__name__}: {e}")
            yield pd.DataFrame(
                {
                    "key": keys,
                    "kind": kinds,
                    "n_bytes": n_bytes,
                    "checksum": checksums,
                    "feat": feats,
                    "decode_error": errs,
                }
            )

    return src.mapInPandas(gen, FEATURE_SCHEMA)


RESIZE_SCHEMA = "key string, media binary, width int, height int, resize_error string"

_RESIZERS: dict[str, Callable[[bytes, int, int], bytes]] = {}


def register_resizer(kind: str, fn: Callable[[bytes, int, int], bytes]) -> None:
    """Plug in a real resizer (e.g. PIL Image.resize → re-encoded bytes)."""
    _RESIZERS[kind] = fn


def _fake_resize(payload: bytes, w: int, h: int) -> bytes:
    """Deterministic stand-in: 1-D nearest-neighbor resample of the raw
    bytes to w*h — out[i] = payload[(i * len) // (w*h)]. Keeps the
    plumbing (binary-in/binary-out, size contract) real and testable;
    replace via register_resizer in a real deployment."""
    n = w * h
    if not payload:
        return bytes(n)
    ln = len(payload)
    return bytes(payload[(i * ln) // n] for i in range(n))


def _default_resize(kind: str, payload: bytes, w: int, h: int) -> bytes:
    return (_kernel("resize", kind, payload) or _fake_resize)(payload, w, h)


def resize_media(
    df: DataFrame,
    width: int,
    height: int,
    key_col: str = "key",
    media_col: str = "media",
    kind_col: str | None = None,
    default_kind: str = "image",
    batch_partitions: int | None = None,
) -> DataFrame:
    """mapInPandas binary→binary resize stage (the image-resize step of
    a multimodal training pipeline). Same Arrow batch shape as
    extract_features: fat rows, so balance by row count first. The
    resize kernel is pluggable per media kind; the default is the
    deterministic byte-resample stub (no image libs in this
    environment)."""
    import pandas as pd

    from beats_spark._pickle import ensure_udf_portable

    ensure_udf_portable()

    cols = [key_col, media_col] + ([kind_col] if kind_col else [])
    src = df.select(*cols)
    if batch_partitions:
        src = src.repartition(batch_partitions)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            keys, outs, errs = [], [], []
            key_vals = b[key_col].tolist()
            media_vals = b[media_col].tolist()
            kind_vals = b[kind_col].tolist() if kind_col else None
            for idx in range(len(b)):
                raw = media_vals[idx]
                payload = bytes(raw) if raw is not None else b""
                kind = kind_vals[idx] if kind_vals is not None else default_kind
                keys.append(key_vals[idx])
                fn = _RESIZERS.get(kind) or functools.partial(_default_resize, kind)
                try:
                    outs.append(fn(payload, width, height))
                    errs.append(None)
                except Exception as e:  # noqa: BLE001 — recorded per-row
                    outs.append(None)
                    errs.append(f"{type(e).__name__}: {e}")
            yield pd.DataFrame(
                {
                    "key": keys,
                    "media": outs,
                    "width": [width] * len(keys),
                    "height": [height] * len(keys),
                    "resize_error": errs,
                }
            )

    return src.mapInPandas(gen, RESIZE_SCHEMA)


FRAME_SCHEMA = "key string, frame_idx int, ts_ms long, frame binary"

_SAMPLERS: dict[str, Callable[[bytes, int], list]] = {}


def register_sampler(fmt: str, fn: Callable[[bytes, int], list]) -> None:
    """Plug in a real frame sampler for a container format keyed by its
    sniffed name (e.g. an ffmpeg-backed 'mp4'). The callable takes
    (payload, n_frames) and returns [(frame_idx, ts_ms, frame_bytes)]."""
    _SAMPLERS[fmt] = fn


def _real_frame_sample(payload: bytes, n_frames: int):
    """Dispatch to a real sampler when one exists for the payload's
    sniffed format: animated GIF, animated WebP (VP8X/ANMF) and
    raw-DIB AVI ship built-in (the table's `sample` kernels: decode,
    frames re-encoded as PPM, timestamps from the file's own
    timeline). Returns None when no real sampler applies — caller
    falls back to the deterministic byte-slice stub."""
    fmt = media_codecs.sniff(payload)
    fn = _SAMPLERS.get(fmt.name if fmt else "unknown") or getattr(fmt, "sample", None)
    return fn(payload, n_frames) if fn is not None else None


def _sniff_one(payload: bytes) -> str:
    """Python-side twin of sniff_media_meta: the sniffed format's name,
    or "unknown"."""
    fmt = media_codecs.sniff(payload)
    return "unknown" if fmt is None else fmt.name


def sample_frames(
    df: DataFrame,
    n_frames: int,
    key_col: str = "key",
    media_col: str = "media",
    duration_ms_col: str | None = None,
    batch_partitions: int | None = None,
) -> DataFrame:
    """mapInPandas video frame sampling: one input row fans out to
    n_frames rows (key, frame_idx, ts_ms, frame) — the flat-map batch
    shape a real ffmpeg-backed sampler uses. Animated GIFs sample for
    REAL (decode + composite, frame (j·F)//n, timestamps from the
    GIF's delay timeline, frames re-encoded as PPM) — as does any
    format with a register_sampler kernel; other payloads fall back to
    the deterministic stub (equal byte slices standing in for decoded
    frames) with timestamps evenly spaced over the duration column
    when given, else over [0, 1000·n). Rows with empty payloads fan
    out to zero frames (a decode/sample failure drops the asset, not
    the stage)."""
    import pandas as pd

    from beats_spark._pickle import ensure_udf_portable

    ensure_udf_portable()

    cols = [key_col, media_col] + ([duration_ms_col] if duration_ms_col else [])
    src = df.select(*cols)
    if batch_partitions:
        src = src.repartition(batch_partitions)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            keys, idxs, tss, frames = [], [], [], []
            key_vals = b[key_col].tolist()
            media_vals = b[media_col].tolist()
            dur_vals = b[duration_ms_col].tolist() if duration_ms_col else None
            for r in range(len(b)):
                raw = media_vals[r]
                payload = bytes(raw) if raw is not None else b""
                if not payload:
                    continue
                dur = (
                    int(dur_vals[r])
                    if dur_vals is not None and dur_vals[r] is not None
                    else 1000 * n_frames
                )
                # a sampler failure drops the asset, never the stage
                # (ADVICE r03 — same policy as the zero-frame fan-out
                # for empty payloads)
                try:
                    rows = _real_frame_sample(payload, n_frames)
                    if rows is None:
                        step = max(len(payload) // n_frames, 1)
                        rows = []
                        for j in range(n_frames):
                            lo = j * step
                            if lo >= len(payload):
                                break
                            rows.append(
                                (j, (dur * j) // n_frames, payload[lo : lo + step])
                            )
                except Exception:  # noqa: BLE001 — asset-level skip
                    continue
                for j, ts, fr in rows:
                    keys.append(key_vals[r])
                    idxs.append(j)
                    tss.append(ts)
                    frames.append(fr)
            yield pd.DataFrame(
                {
                    "key": keys,
                    "frame_idx": idxs,
                    "ts_ms": tss,
                    "frame": frames,
                }
            )

    return src.mapInPandas(gen, FRAME_SCHEMA)


PROBE_SCHEMA = (
    "key string, format string, width int, height int, "
    "duration_ms long, probe_error string"
)


def probe_media_meta(
    df: DataFrame,
    key_col: str = "key",
    media_col: str = "media",
    batch_partitions: int | None = None,
) -> DataFrame:
    """mapInPandas HEADER probe: fill width/height/duration_ms (the
    media_meta fields the native sniff leaves NULL) by parsing only
    container headers — a few dozen bytes per asset, never a pixel or
    sample decode (media_codecs.probe_header: JPEG marker hops, GIF
    sub-block skips, ANMF headers, WAV fmt/data sizes, MP3 frame-sync
    bitrate estimate). This is how a 100 TB media catalog gets its
    dimensions column: the full decoders stay in the training job.
    Fields a format doesn't carry stay NULL; a malformed header lands
    in probe_error per-row (same error contract as extract_features)."""
    import pandas as pd

    from beats_spark._pickle import ensure_udf_portable

    ensure_udf_portable()

    src = df.select(key_col, media_col)
    if batch_partitions:
        src = src.repartition(batch_partitions)

    def gen(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        for b in batches:
            keys, fmts, ws, hs, durs, errs = [], [], [], [], [], []
            for key, raw in zip(b[key_col].tolist(), b[media_col].tolist()):
                payload = bytes(raw) if raw is not None else b""
                fmt = media_codecs.sniff(payload)
                keys.append(key)
                fmts.append("unknown" if fmt is None else fmt.name)
                try:
                    w, h, dur = media_codecs.probe_header(payload, fmt)
                    ws.append(w)
                    hs.append(h)
                    durs.append(dur)
                    errs.append(None)
                except Exception as e:  # noqa: BLE001 — recorded per-row
                    ws.append(None)
                    hs.append(None)
                    durs.append(None)
                    errs.append(f"{type(e).__name__}: {e}")
            yield pd.DataFrame(
                {
                    "key": keys,
                    "format": fmts,
                    "width": pd.array(ws, dtype="Int32"),
                    "height": pd.array(hs, dtype="Int32"),
                    "duration_ms": pd.array(durs, dtype="Int64"),
                    "probe_error": errs,
                }
            )

    return src.mapInPandas(gen, PROBE_SCHEMA)
