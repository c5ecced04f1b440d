"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata, processed via Arrow-batched ``mapInPandas``.

The Spark-side machinery (schemas, batch iteration, partition sizing) is
real and tested. The third-party decode libraries (Pillow/librosa/av) are
not in this container (install retried + network-blocked every round), so
``decode_fn=None`` uses a deterministic fake that "decodes"
byte-length/checksum features; pass a real decoder in production. PNG
and WAV, however, need only the stdlib — :func:`make_png_decode_fn` /
:func:`decode_image_features` (IHDR parse, IDAT inflate, full RFC 2083
scanline un-filtering, exact pixel statistics) and
:func:`make_wav_decode_fn` / :func:`decode_audio_features` (RIFF/PCM
parse, exact sample statistics) are REAL decoders proving the Arrow
batch contract with genuinely decoded bytes; only video demux still
needs external codecs and stays stubbed.

Scale notes: binary payloads dominate partition size, so metadata-only
transformations should project the binary column away first (column
pruning keeps it unread in parquet).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("media_type", StringType(), True),  # image|audio|video
        StructField("payload", BinaryType(), True),
        StructField("mime", StringType(), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("duration_ms", LongType(), True),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("media_type", StringType(), True),
        StructField("n_bytes", LongType(), True),
        StructField("checksum", StringType(), True),
        StructField("feature_dim", IntegerType(), True),
        StructField("decode_ok", StringType(), True),
    ]
)


def _make_stub_decode() -> Callable[[pd.DataFrame], pd.DataFrame]:
    """Deterministic fake decoder: byte stats instead of pixels/samples.

    Built as a nested closure (not a module-level function) so cloudpickle
    serializes it **by value**: Python workers on a cluster do not
    necessarily have this package importable, and a by-reference pickle
    would die with ModuleNotFoundError on the executor.
    """

    def stub(batch: pd.DataFrame) -> pd.DataFrame:
        import hashlib

        import pandas as _pd

        payloads = batch["payload"]
        return _pd.DataFrame(
            {
                "media_id": batch["media_id"],
                "media_type": batch["media_type"],
                "n_bytes": payloads.map(lambda b: len(b) if b is not None else 0).astype(
                    "int64"
                ),
                "checksum": payloads.map(
                    lambda b: hashlib.md5(b).hexdigest() if b is not None else None
                ),
                "feature_dim": _pd.Series([64] * len(batch), dtype="int32"),
                "decode_ok": _pd.Series(["stub"] * len(batch)),
            }
        )

    return stub


def decode_features(
    media: DataFrame,
    decode_fn: Callable[[pd.DataFrame], pd.DataFrame] | None = None,
) -> DataFrame:
    """Decode/feature-extract media payloads via Arrow-batched mapInPandas.

    A real ``decode_fn`` would resize images / resample audio / sample
    frames and emit embedding columns; the stub keeps the identical
    dataflow. Caution for cluster use: pass a ``decode_fn`` that pickles by
    value (nested closure) or ship the defining module to the executors.
    """
    fn = decode_fn
    if fn is None:
        fn = _make_stub_decode()
        # the stub reads exactly these three columns; mapInPandas is opaque
        # to column pruning, so project before the boundary (guide §4.1) —
        # a custom decode_fn sees the full frame and projects at its call
        # site if it wants the same saving
        media = media.select("media_id", "media_type", "payload")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield fn(pdf)

    return media.mapInPandas(run, schema=FEATURE_SCHEMA)


def synthesize_media_from_documents(docs: DataFrame) -> DataFrame:
    """Build a fake media table from the documents table (text → bytes) so
    the multimodal plumbing is exercisable on the driver's testdata."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("media_type"),
        F.col("text").cast("binary").alias("payload"),
        F.lit("application/octet-stream").alias("mime"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("long").alias("duration_ms"),
    )


FRAME_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("frame_idx", IntegerType(), False),
        StructField("frame_ts_ms", LongType(), True),
        StructField("frame_checksum", StringType(), True),
    ]
)

def sample_frames(
    media: DataFrame,
    every_ms: int = 1000,
    max_frames: int = 6,
    frame_fn: Callable[[pd.DataFrame], pd.DataFrame] | None = None,
) -> DataFrame:
    """Frame sampling: one input video row → N frame rows (the fan-out
    mapInPandas shape a video pipeline needs). The stub derives a
    deterministic frame count from the payload size and checksums each
    frame slot; a real ``frame_fn`` would demux with av/ffmpeg and emit
    JPEG bytes per sampled timestamp."""

    def make_stub() -> Callable[[pd.DataFrame], pd.DataFrame]:
        def stub(batch: pd.DataFrame) -> pd.DataFrame:
            import hashlib

            import pandas as _pd

            out = {"media_id": [], "frame_idx": [], "frame_ts_ms": [], "frame_checksum": []}
            for mid, payload in zip(batch["media_id"], batch["payload"]):
                n_bytes = len(payload) if payload is not None else 0
                n_frames = min(1 + n_bytes // 512, max_frames)
                base = hashlib.md5(payload).hexdigest() if payload is not None else ""
                for i in range(int(n_frames)):
                    out["media_id"].append(mid)
                    out["frame_idx"].append(i)
                    out["frame_ts_ms"].append(i * every_ms)
                    out["frame_checksum"].append(
                        hashlib.md5(f"{base}:{i}".encode()).hexdigest()
                    )
            return _pd.DataFrame(
                {
                    "media_id": _pd.Series(out["media_id"], dtype="int64"),
                    "frame_idx": _pd.Series(out["frame_idx"], dtype="int32"),
                    "frame_ts_ms": _pd.Series(out["frame_ts_ms"], dtype="int64"),
                    "frame_checksum": _pd.Series(out["frame_checksum"], dtype="object"),
                }
            )

        return stub

    fn = frame_fn or make_stub()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield fn(pdf)

    videos = media.filter(F.col("media_type") == "video").select("media_id", "payload")
    return videos.mapInPandas(run, schema=FRAME_SCHEMA)


IMAGE_DECODE_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("channels", IntegerType(), True),
        StructField("bit_depth", IntegerType(), True),
        StructField("mean_intensity", StringType(), True),  # exact rational "sum/count"
        StructField("decode_ok", StringType(), True),
    ]
)


def make_png_decode_fn() -> Callable[[pd.DataFrame], pd.DataFrame]:
    """A REAL (non-stub) image decoder built from the stdlib only — the
    container has no Pillow/librosa/av (retried and network-blocked every
    round), but PNG needs nothing beyond ``zlib`` + ``struct``: parse the
    signature and IHDR, inflate the IDAT stream, reverse the per-scanline
    filters (None/Sub/Up/Average/Paeth, RFC 2083 §6), and reduce the
    recovered pixels to exact statistics. Emits ``IMAGE_DECODE_SCHEMA``;
    ``mean_intensity`` is the exact rational ``"pixelsum/count"`` so the
    test asserts bit-exact pixel recovery, not a float approximation.

    Supports 8-bit greyscale (color type 0), RGB (2) and RGBA (6),
    non-interlaced — enough to prove the Arrow ``mapInPandas`` batch
    contract end-to-end with genuinely decoded bytes. Anything else
    (16-bit, palette, interlaced, truncated) degrades to
    ``decode_ok='unsupported'``/``'error'`` rather than failing the task:
    on a 100 TB corpus a poison payload must never kill the stage.

    Nested closure so cloudpickle ships it by value (executors need not
    have this package importable)."""

    def decode(batch: pd.DataFrame) -> pd.DataFrame:
        import struct
        import zlib

        import pandas as _pd

        _SIG = b"\x89PNG\r\n\x1a\n"
        _NCH = {0: 1, 2: 3, 6: 4}

        def paeth(a: int, b: int, c: int) -> int:
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            if pa <= pb and pa <= pc:
                return a
            return b if pb <= pc else c

        def one(payload):
            if payload is None or len(payload) < 8 or bytes(payload[:8]) != _SIG:
                return None, None, None, None, None, "not_png"
            data = bytes(payload)
            pos, ihdr, idat = 8, None, []
            try:
                while pos + 8 <= len(data):
                    (length,) = struct.unpack(">I", data[pos : pos + 4])
                    ctype = data[pos + 4 : pos + 8]
                    body = data[pos + 8 : pos + 8 + length]
                    if ctype == b"IHDR":
                        ihdr = struct.unpack(">IIBBBBB", body)
                    elif ctype == b"IDAT":
                        idat.append(body)
                    elif ctype == b"IEND":
                        break
                    pos += 12 + length  # length + type + crc
                if ihdr is None or not idat:
                    return None, None, None, None, None, "error"
                w, h, depth, color, comp, filt, interlace = ihdr
                if depth != 8 or color not in _NCH or interlace != 0 or comp != 0:
                    return w, h, _NCH.get(color), depth, None, "unsupported"
                nch = _NCH[color]
                raw = zlib.decompress(b"".join(idat))
                stride = w * nch
                if len(raw) != h * (stride + 1):
                    return w, h, nch, depth, None, "error"
                prev = bytearray(stride)
                total = 0
                for row in range(h):
                    off = row * (stride + 1)
                    ftype = raw[off]
                    line = bytearray(raw[off + 1 : off + 1 + stride])
                    if ftype == 1:  # Sub
                        for i in range(nch, stride):
                            line[i] = (line[i] + line[i - nch]) & 0xFF
                    elif ftype == 2:  # Up
                        for i in range(stride):
                            line[i] = (line[i] + prev[i]) & 0xFF
                    elif ftype == 3:  # Average
                        for i in range(stride):
                            left = line[i - nch] if i >= nch else 0
                            line[i] = (line[i] + ((left + prev[i]) >> 1)) & 0xFF
                    elif ftype == 4:  # Paeth
                        for i in range(stride):
                            left = line[i - nch] if i >= nch else 0
                            cul = prev[i - nch] if i >= nch else 0
                            line[i] = (line[i] + paeth(left, prev[i], cul)) & 0xFF
                    elif ftype != 0:
                        return w, h, nch, depth, None, "error"
                    total += sum(line)
                    prev = line
                return w, h, nch, depth, f"{total}/{w * h * nch}", "ok"
            except Exception:
                return None, None, None, None, None, "error"

        cols = {"media_id": batch["media_id"], "width": [], "height": [],
                "channels": [], "bit_depth": [], "mean_intensity": [], "decode_ok": []}
        for payload in batch["payload"]:
            w, h, c, d, m, ok = one(payload)
            cols["width"].append(w)
            cols["height"].append(h)
            cols["channels"].append(c)
            cols["bit_depth"].append(d)
            cols["mean_intensity"].append(m)
            cols["decode_ok"].append(ok)
        return _pd.DataFrame(
            {
                "media_id": _pd.Series(cols["media_id"], dtype="int64"),
                "width": _pd.Series(cols["width"], dtype="Int32"),
                "height": _pd.Series(cols["height"], dtype="Int32"),
                "channels": _pd.Series(cols["channels"], dtype="Int32"),
                "bit_depth": _pd.Series(cols["bit_depth"], dtype="Int32"),
                "mean_intensity": _pd.Series(cols["mean_intensity"], dtype="object"),
                "decode_ok": _pd.Series(cols["decode_ok"], dtype="object"),
            }
        )

    return decode


def decode_image_features(media: DataFrame) -> DataFrame:
    """Real-decode path: run :func:`make_png_decode_fn` over the image
    rows via Arrow-batched ``mapInPandas`` — the same plumbing as
    :func:`decode_features`, but with genuinely decoded pixels. Non-PNG
    payloads come back ``decode_ok='not_png'`` instead of erroring (a
    mixed-format corpus is the normal case)."""
    images = media.filter(F.col("media_type") == "image").select(
        "media_id", "payload"
    )
    fn = make_png_decode_fn()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield fn(pdf)

    return images.mapInPandas(run, schema=IMAGE_DECODE_SCHEMA)


AUDIO_DECODE_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("sample_rate", IntegerType(), True),
        StructField("channels", IntegerType(), True),
        StructField("bit_depth", IntegerType(), True),
        StructField("n_frames", LongType(), True),
        StructField("duration_ms", LongType(), True),
        StructField("sum_abs", StringType(), True),  # exact integer sum of |samples|
        StructField("decode_ok", StringType(), True),
    ]
)


def make_wav_decode_fn() -> Callable[[pd.DataFrame], pd.DataFrame]:
    """A REAL (non-stub) audio decoder built from the stdlib only — the
    WAV sibling of :func:`make_png_decode_fn`: parse the RIFF container
    (fmt chunk → sample rate / channels / bit depth, data chunk → PCM
    frames) and reduce the recovered samples to exact statistics
    (``sum_abs`` is the exact integer sum of absolute sample values, so
    tests assert bit-exact PCM recovery). Supports 8-bit unsigned and
    16-bit signed little-endian PCM (format tag 1), mono or multi-
    channel. Compressed/float formats degrade to
    ``decode_ok='unsupported'``, torn containers to ``'error'``,
    non-WAV payloads to ``'not_wav'`` — a poison byte-string never
    kills the stage. Nested closure so cloudpickle ships it by value."""

    def decode(batch: pd.DataFrame) -> pd.DataFrame:
        import struct

        import pandas as _pd

        def one(payload):
            if payload is None or len(payload) < 12:
                return (None,) * 6 + ("not_wav",)
            data = bytes(payload)
            if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
                return (None,) * 6 + ("not_wav",)
            try:
                pos, fmt, pcm = 12, None, None
                while pos + 8 <= len(data):
                    cid = data[pos : pos + 4]
                    (ln,) = struct.unpack("<I", data[pos + 4 : pos + 8])
                    body = data[pos + 8 : pos + 8 + ln]
                    if cid == b"fmt ":
                        fmt = struct.unpack("<HHIIHH", body[:16])
                    elif cid == b"data":
                        pcm = body
                    pos += 8 + ln + (ln & 1)  # chunks are word-aligned
                if fmt is None or pcm is None:
                    return (None,) * 6 + ("error",)
                tag, nch, rate, _byterate, _align, depth = fmt
                if tag != 1 or depth not in (8, 16) or nch < 1:
                    return (rate, nch, depth, None, None, None, "unsupported")
                if depth == 16:
                    n = len(pcm) // 2
                    samples = struct.unpack(f"<{n}h", pcm[: n * 2])
                    total = sum(abs(s) for s in samples)
                else:
                    samples = pcm  # unsigned bytes, center at 128
                    total = sum(abs(s - 128) for s in samples)
                    n = len(samples)
                frames = n // nch
                dur_ms = (frames * 1000) // rate if rate else None
                return (rate, nch, depth, frames, dur_ms, str(total), "ok")
            except Exception:
                return (None,) * 6 + ("error",)

        out = [one(p) for p in batch["payload"]]
        return _pd.DataFrame(
            {
                "media_id": _pd.Series(batch["media_id"], dtype="int64"),
                "sample_rate": _pd.Series([o[0] for o in out], dtype="Int32"),
                "channels": _pd.Series([o[1] for o in out], dtype="Int32"),
                "bit_depth": _pd.Series([o[2] for o in out], dtype="Int32"),
                "n_frames": _pd.Series([o[3] for o in out], dtype="Int64"),
                "duration_ms": _pd.Series([o[4] for o in out], dtype="Int64"),
                "sum_abs": _pd.Series([o[5] for o in out], dtype="object"),
                "decode_ok": _pd.Series([o[6] for o in out], dtype="object"),
            }
        )

    return decode


def decode_audio_features(media: DataFrame) -> DataFrame:
    """Real-decode path for audio: :func:`make_wav_decode_fn` over the
    audio rows via Arrow-batched ``mapInPandas`` — same plumbing as
    :func:`decode_features` / :func:`decode_image_features`."""
    audio = media.filter(F.col("media_type") == "audio").select(
        "media_id", "payload"
    )
    fn = make_wav_decode_fn()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield fn(pdf)

    return audio.mapInPandas(run, schema=AUDIO_DECODE_SCHEMA)


# ---------------------------------------------------------------------------
# Perceptual hashing: dHash over decoded pixel grids (pure column algebra)
# ---------------------------------------------------------------------------


def dhash_col(pixels, rows: int = 8, cols: int = 8):
    """Difference-hash (dHash) of a row-major grayscale pixel grid
    (``array<array<int>>``, ``rows`` × ``cols``): bit ``(i, j)`` is set
    iff ``px[i][j] > px[i][j+1]``, packed row-major into ONE long —
    ``rows·(cols-1)`` bits (≤ 63). The standard perceptual near-dup
    fingerprint for images (as used by imagehash et al.): robust to
    re-encoding and brightness shifts because only neighbor ORDER
    matters, not absolute intensity.

    Pure column expressions — the per-tile hash runs inside whole-stage
    codegen at scan speed, no Python on the hot path; downstream exact
    grouping / hamming blocking reuses the simhash pigeonhole machinery
    (``textops/dedup.py``). Pixel DECODE is the Arrow ``mapInPandas``
    tier above (real for PNG/WAV, honestly stubbed for env-blocked
    codecs) — this operator takes the decoded grid.
    """
    nbits = rows * (cols - 1)
    if nbits > 63:
        raise ValueError(f"dhash needs rows*(cols-1) <= 63 bits, got {nbits}")
    terms = []
    pos = 0
    for i in range(1, rows + 1):
        row = F.element_at(pixels, i)
        for j in range(1, cols):
            bit = F.element_at(row, j) > F.element_at(row, j + 1)
            terms.append(
                F.when(bit, F.lit(1 << pos).cast("long")).otherwise(
                    F.lit(0).cast("long")
                )
            )
            pos += 1
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out
