"""Multimodal column handling — opaque ``binary`` payloads with typed
metadata.

Default path is **pure column expressions** (length/md5/modulo/substring —
all JVM-side, whole-stage-codegen'd): the deterministic fake decode is
plain arithmetic over the payload, so no Python worker belongs in the
executed plan. The Arrow-batched ``mapInPandas`` variants
(:func:`_image_decode_codec`, :func:`_frame_sample_codec`) are the marked
extension points for a REAL codec (PIL/ffmpeg — absent in this container):
they exercise the identical schema contract, batch iteration, and
row-expansion plumbing, gated behind ``use_codec=True``.

Scale notes: the default plans are narrow projections (+ one generator for
frame expansion) — zero shuffle before the presentation sort; the codec
variants stream Arrow batches with memory bounded by
``spark.sql.execution.arrow.maxRecordsPerBatch`` regardless of corpus
size. Binary payloads stay opaque bytes end-to-end.

Byte-vs-char contract: Spark operates on ``CAST(text AS BINARY)`` (UTF-8
bytes); the DuckDB oracle slices VARCHAR with character-based ``substr``
and counts bytes with ``strlen``. These agree only for pure-ASCII text —
asserted against the synthetic testdata in
``tests/test_schemas.py::test_documents_text_is_ascii`` (this DuckDB build
has no BLOB ``substring`` to do it byte-wise).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

FRAME_BYTES = 64  # fake "frame" size for the frame sampler
FRAME_STRIDE = 2  # sample every 2nd frame

DECODE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("format", StringType(), False),
        StructField("n_bytes", LongType(), False),
        StructField("width", LongType(), False),
        StructField("height", LongType(), False),
        StructField("checksum", StringType(), False),
    ]
)

FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("frame_idx", LongType(), False),
        StructField("frame_offset", LongType(), False),
        StructField("frame_len", LongType(), False),
        StructField("frame_md5", StringType(), False),
    ]
)


def _binary_payload(docs: DataFrame) -> DataFrame:
    """The multimodal ingestion contract: an opaque binary column + typed
    metadata. Here the synthetic ``text`` bytes stand in for image data."""
    return docs.selectExpr(
        "doc_id",
        "CAST(text AS BINARY) AS payload",
        "'fake/raw' AS format",
    )


# ==========================================================================
# M1 — image decode (default: pure column expressions; codec: mapInPandas)
# ==========================================================================
def image_decode(
    docs: DataFrame, use_codec: bool = False, decode_fn=None
) -> DataFrame:
    """M1: decode opaque image payloads into typed features. The fake
    geometry (``n_bytes % 640/480``) and checksum are built-in expressions —
    no Python worker in the plan; ``use_codec=True`` switches to the
    Arrow-batched real-codec path. ``decode_fn`` is the codec body — a
    self-contained ``(payload: bytes) -> (width, height)`` callable
    (see :func:`fake_geometry_decode`, the deterministic stand-in
    pinned result-identical to the column-expression default);
    ``None`` keeps the raise-through-plumbing contract."""
    if use_codec:
        return _image_decode_codec(docs, decode_fn)
    n_bytes = F.length("payload").cast("long")
    return (
        _binary_payload(docs)
        .select(
            "doc_id",
            "format",
            n_bytes.alias("n_bytes"),
            (n_bytes % 640).alias("width"),
            (n_bytes % 480).alias("height"),
            F.md5("payload").alias("checksum"),
        )
        .orderBy("doc_id")
    )


def fake_geometry_decode():
    """Deterministic stand-in codec body: the column-expression
    default's fake geometry (``n_bytes % 640/480``) computed in Python
    — exists so the codec extension point's ENTIRE path (Arrow batch
    transfer, per-payload decode, schema, presentation sort) executes
    and is pinned result-identical to the default plan, not just
    raise-checked. Factory-built closure so cloudpickle ships it by
    value (see the note in :func:`_image_decode_codec`)."""

    def decode_fn(payload: bytes):
        n = len(payload)
        return n % 640, n % 480

    return decode_fn


def png_decode():
    """REAL stdlib-only PNG codec body for the M1 extension point — the
    first non-synthetic decoder to run through the Arrow plumbing
    (VERDICT r11 #4). Full decode, not a header sniff: chunk walk with
    CRC verification, concatenated-IDAT ``zlib`` inflate, then per-row
    filter reconstruction (None/Sub/Up/Average/Paeth, the complete
    PNG filter set) — so a truncated or corrupt stream FAILS instead
    of yielding plausible geometry. Supports non-interlaced 8-bit
    gray / gray+alpha / RGB / RGBA (color types 0/4/2/6); palette and
    interlaced images raise with a clear message.

    Factory-built closure (locals + in-function imports only) so
    cloudpickle ships it by value to executors — same contract as
    :func:`fake_geometry_decode`. The returned callable satisfies the
    ``(payload: bytes) -> (width, height)`` codec contract; its
    ``.pixels(payload)`` attribute exposes the reconstructed raw
    scanlines ``(width, height, channels, bytes)`` for tests and
    driver-side feature extraction."""

    def _decode(payload: bytes, want_pixels: bool = False):
        import struct as _struct
        import zlib as _zlib

        sig = b"\x89PNG\r\n\x1a\n"
        if payload[:8] != sig:
            raise ValueError("not a PNG: bad signature")
        pos = 8
        ihdr = None
        idat = b""
        seen_iend = False
        while pos + 8 <= len(payload):
            (length,) = _struct.unpack(">I", payload[pos:pos + 4])
            ctype = payload[pos + 4:pos + 8]
            data = payload[pos + 8:pos + 8 + length]
            if len(data) != length:
                raise ValueError("truncated PNG chunk")
            (crc,) = _struct.unpack(
                ">I", payload[pos + 8 + length:pos + 12 + length]
            )
            if _zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
                raise ValueError(f"PNG chunk {ctype!r} CRC mismatch")
            if ctype == b"IHDR":
                ihdr = _struct.unpack(">IIBBBBB", data)
            elif ctype == b"IDAT":
                idat += data
            elif ctype == b"IEND":
                seen_iend = True
                break
            pos += 12 + length
        if ihdr is None or not seen_iend:
            raise ValueError("PNG missing IHDR or IEND")
        width, height, depth, color, comp, filt, interlace = ihdr
        if comp != 0 or filt != 0:
            raise ValueError("PNG: unknown compression/filter method")
        if interlace != 0:
            raise ValueError("interlaced PNG not supported")
        channels = {0: 1, 2: 3, 4: 2, 6: 4}.get(color)
        if channels is None or depth != 8:
            raise ValueError(
                f"unsupported PNG color type {color} / bit depth {depth} "
                "(8-bit gray/GA/RGB/RGBA only)"
            )
        raw = _zlib.decompress(idat)
        stride = width * channels
        if len(raw) != height * (stride + 1):
            raise ValueError("PNG pixel data length mismatch")
        bpp = channels  # 8-bit samples: bytes per pixel == channels
        prev = bytearray(stride)
        out = bytearray()
        for y in range(height):
            off = y * (stride + 1)
            ftype = raw[off]
            line = bytearray(raw[off + 1:off + 1 + stride])
            if ftype == 1:  # Sub
                for i in range(bpp, stride):
                    line[i] = (line[i] + line[i - bpp]) & 0xFF
            elif ftype == 2:  # Up
                for i in range(stride):
                    line[i] = (line[i] + prev[i]) & 0xFF
            elif ftype == 3:  # Average
                for i in range(stride):
                    left = line[i - bpp] if i >= bpp else 0
                    line[i] = (line[i] + ((left + prev[i]) >> 1)) & 0xFF
            elif ftype == 4:  # Paeth
                for i in range(stride):
                    a = line[i - bpp] if i >= bpp else 0
                    b = prev[i]
                    c = prev[i - bpp] if i >= bpp else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    if pa <= pb and pa <= pc:
                        pr = a
                    elif pb <= pc:
                        pr = b
                    else:
                        pr = c
                    line[i] = (line[i] + pr) & 0xFF
            elif ftype != 0:
                raise ValueError(f"PNG: unknown filter type {ftype}")
            out += line
            prev = line
        if want_pixels:
            return width, height, channels, bytes(out)
        return width, height

    def decode_fn(payload: bytes):
        return _decode(payload)

    decode_fn.pixels = lambda payload: _decode(payload, want_pixels=True)
    return decode_fn


def _image_decode_codec(docs: DataFrame, decode_fn=None) -> DataFrame:
    """Real-codec extension point: Arrow-batched ``mapInPandas`` with the
    same output schema. ``decode_fn`` is the codec body — a
    SELF-CONTAINED ``(payload: bytes) -> (width, height)`` callable
    (it is cloudpickled to executors); ``None`` raises until an image
    codec is installed."""
    return image_decode_payloads(_binary_payload(docs), decode_fn)


def image_decode_payloads(frame: DataFrame, decode_fn=None) -> DataFrame:
    """The codec plan over an ALREADY-BINARY ingestion frame
    ``(doc_id, payload binary, format string)`` — the real multimodal
    shape (PNG/JPEG bytes are not valid UTF-8, so they arrive as a
    binary column, never through the text cast the synthetic default
    rides). Same Arrow batching, schema, and presentation sort as the
    docs-shaped wrapper above."""
    cols = [f.name for f in DECODE_SCHEMA.fields]

    # NOTE: the closure must be self-contained (locals + in-function imports
    # only). Referencing module-level symbols would make cloudpickle import
    # this package on every executor's Python worker — which fails when the
    # package is driver-side-only (sys.path injection, no --py-files).
    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib

        import pandas as _pd

        for pdf in batches:
            if decode_fn is None:
                # Body-only change once a codec ships: parse real
                # width/height from the payload header here (see
                # fake_geometry_decode for the executed contract).
                raise NotImplementedError(
                    "image codecs (PIL/opencv) are not available in this "
                    "environment; use image_decode(use_codec=False)"
                )
            out: dict[str, list] = {c: [] for c in cols}
            for doc_id, payload, fmt in zip(
                pdf["doc_id"], pdf["payload"], pdf["format"]
            ):
                data = bytes(payload)
                width, height = decode_fn(data)
                out["doc_id"].append(doc_id)
                out["format"].append(fmt)
                out["n_bytes"].append(len(data))
                out["width"].append(width)
                out["height"].append(height)
                out["checksum"].append(_hashlib.md5(data).hexdigest())
            yield _pd.DataFrame(out)

    return (
        frame.mapInPandas(decode, DECODE_SCHEMA).orderBy("doc_id")
    )


ORACLE_IMAGE_DECODE = """
SELECT doc_id,
       'fake/raw' AS format,
       strlen(text) AS n_bytes,
       strlen(text) % 640 AS width,
       strlen(text) % 480 AS height,
       md5(text) AS checksum
FROM documents
ORDER BY doc_id
"""


# ==========================================================================
# M2 — frame sampling (default: explode(sequence) + substring + md5)
# ==========================================================================
def frame_sample(docs: DataFrame, use_codec: bool = False) -> DataFrame:
    """M2: split each payload into fixed {fb}-byte frames and keep every
    {fs}. one. Default plan is a generator over built-ins —
    ``explode(sequence(0, n_frames-1, stride))`` then ``substring``/``md5``
    per frame; ``use_codec=True`` switches to the mapInPandas row-expansion
    plumbing for real frame extraction.""".format(fb=FRAME_BYTES, fs=FRAME_STRIDE)
    if use_codec:
        return _frame_sample_codec(docs)
    fb, fs = FRAME_BYTES, FRAME_STRIDE
    chunk = f"substring(payload, frame_idx * {fb} + 1, {fb})"
    return (
        _binary_payload(docs)
        .where(F.length("payload") > 0)
        .select(
            "doc_id",
            "payload",
            F.explode(
                F.expr(
                    f"sequence(0L, CAST(ceil(length(payload) / {fb}.0) AS BIGINT) - 1, {fs}L)"
                )
            ).alias("frame_idx"),
        )
        .select(
            "doc_id",
            "frame_idx",
            (F.col("frame_idx") * fb).alias("frame_offset"),
            F.expr(f"CAST(length({chunk}) AS BIGINT)").alias("frame_len"),
            F.expr(f"md5({chunk})").alias("frame_md5"),
        )
        .orderBy("doc_id", "frame_idx")
    )


def _frame_sample_codec(docs: DataFrame) -> DataFrame:
    """Real-codec extension point: one-input-row → many-output-rows inside
    the Arrow batch iterator (video frame extraction shape)."""
    frame_bytes, frame_stride = FRAME_BYTES, FRAME_STRIDE
    cols = [f.name for f in FRAME_SCHEMA.fields]

    # Self-contained closure — see the note in _image_decode_codec.
    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib

        import pandas as _pd

        for pdf in batches:
            out: dict[str, list] = {c: [] for c in cols}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                data = bytes(payload)
                n_frames = (len(data) + frame_bytes - 1) // frame_bytes
                for idx in range(0, n_frames, frame_stride):
                    chunk = data[idx * frame_bytes : (idx + 1) * frame_bytes]
                    out["doc_id"].append(doc_id)
                    out["frame_idx"].append(idx)
                    out["frame_offset"].append(idx * frame_bytes)
                    out["frame_len"].append(len(chunk))
                    out["frame_md5"].append(_hashlib.md5(chunk).hexdigest())
            yield _pd.DataFrame(out)

    return (
        _binary_payload(docs)
        .mapInPandas(sample, FRAME_SCHEMA)
        .orderBy("doc_id", "frame_idx")
    )


ORACLE_FRAME_SAMPLE = f"""
WITH frames AS (
  SELECT doc_id,
         unnest(range(0, CAST(CEIL(strlen(text) * 1.0 / {FRAME_BYTES}) AS BIGINT))) AS frame_idx,
         text
  FROM documents
)
SELECT doc_id,
       frame_idx,
       frame_idx * {FRAME_BYTES} AS frame_offset,
       length(substr(text, frame_idx * {FRAME_BYTES} + 1, {FRAME_BYTES})) AS frame_len,
       md5(substr(text, frame_idx * {FRAME_BYTES} + 1, {FRAME_BYTES})) AS frame_md5
FROM frames
WHERE frame_idx % {FRAME_STRIDE} = 0
ORDER BY doc_id, frame_idx
"""


# ==========================================================================
# M3 — audio windowing (overlapped frames + per-window energy/peak)
# ==========================================================================
#: audio framing constants: 32-byte windows with a 16-byte hop (50%
#: overlap) — the standard STFT-style framing shape; incomplete tail
#: windows are dropped (audio convention), so every window is full-width.
AUDIO_WINDOW = 32
AUDIO_HOP = 16


def audio_windows(
    docs: DataFrame, use_codec: bool = False, decode_fn=None
) -> DataFrame:
    """M3: overlapped audio-style framing over an opaque payload — one row
    per (doc, window) with integer energy (Σ sample²), peak amplitude, and
    the r4-snapped RMS. The synthetic payload's byte values stand in for
    PCM samples; ``use_codec=True`` switches to the Arrow-batched
    real-codec path, where ``decode_fn`` is a self-contained
    ``(payload: bytes) -> list[int]`` sample decoder (see
    :func:`wav_decode`, the real RIFF/PCM parser, and
    :func:`synthetic_bytes_decode`, the stand-in pinned
    result-identical to this default plan); ``None`` keeps the
    raise-through-plumbing contract.

    Plan shape: generator (explode of the window index sequence) + pure
    per-window arithmetic over ``substring`` slices — no shuffle before
    the presentation sort; energy/peak are exact integer folds, so no
    float portability risk. Overlap means each byte lands in ≤2 windows:
    the expansion factor is len/hop, bounded and predictable at 100 TB.
    """
    if use_codec:
        return _audio_windows_codec(docs, decode_fn)
    w, h = AUDIO_WINDOW, AUDIO_HOP
    return (
        _binary_payload(docs)
        .where(F.length("payload") >= w)
        .select(
            "doc_id",
            "payload",
            F.explode(
                F.expr(
                    f"sequence(0L, CAST(floor((length(payload) - {w}) / {h}.0) AS BIGINT))"
                )
            ).alias("window_idx"),
        )
        # materialize the window slice, then the code-point array, ONCE —
        # inlining them would re-slice the full payload per array element
        # and per metric (64 substring evaluations per window; measured 3.0 s
        # → the staged form drops the repeated payload copies entirely)
        .select(
            "doc_id",
            "window_idx",
            F.expr(f"substring(payload, window_idx * {h} + 1, {w})").alias("chunk"),
        )
        .select(
            "doc_id",
            "window_idx",
            F.expr(
                f"transform(sequence(1, {w}), i -> ascii(substring(chunk, i, 1)))"
            ).alias("codes"),
        )
        .select(
            "doc_id",
            "window_idx",
            (F.col("window_idx") * h).alias("win_offset"),
            F.expr(
                "aggregate(codes, 0L, (a, x) -> a + CAST(x AS BIGINT) * CAST(x AS BIGINT))"
            ).alias("energy"),
            F.expr("CAST(array_max(codes) AS BIGINT)").alias("peak"),
        )
        .withColumn(
            "rms",
            F.expr(
                f"FLOOR(sqrt(CAST(energy AS DOUBLE) / {w}.0) * 10000.0 + 0.5)"
                " / CAST(10000.0 AS DOUBLE)"
            ),
        )
        .orderBy("doc_id", "window_idx")
    )


#: output schema of the M3 family — shared by the column-expression
#: default and the Arrow codec path (same contract as DECODE_SCHEMA)
AUDIO_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("window_idx", LongType(), False),
        StructField("win_offset", LongType(), False),
        StructField("energy", LongType(), False),
        StructField("peak", LongType(), False),
        StructField("rms", DoubleType(), False),
    ]
)


def synthetic_bytes_decode():
    """Deterministic stand-in sample decoder: the payload's raw bytes
    ARE the samples (exactly what the column-expression default's
    ``ascii(substring(...))`` reads) — exists so the audio codec
    extension point's entire path executes and is pinned
    result-identical to the default plan. Factory-built closure so
    cloudpickle ships it by value (the :func:`fake_geometry_decode`
    contract)."""

    def decode_fn(payload: bytes):
        return list(payload)

    return decode_fn


def wav_decode():
    """REAL stdlib-only WAV (RIFF/PCM) codec body for the M3 extension
    point — the PNG pattern verbatim (VERDICT r12 #5): chunk walk with
    size validation, ``fmt `` sanity (PCM only, coherent
    block_align/byte_rate), ``data`` alignment — so a truncated or
    corrupt stream FAILS instead of yielding plausible windows.
    Supports 8/16/24/32-bit integer PCM, any channel count (the FIRST
    channel is decoded); compressed/float/extensible formats raise
    with a clear message.

    Samples are mapped to the unsigned 8-bit domain (0-255: top byte
    of the signed sample + 128; 8-bit WAV is already unsigned) so the
    SAME windowing arithmetic the synthetic default runs — integer
    energy/peak over byte-range samples — applies to real audio.

    Factory-built closure (locals + in-function imports only) so
    cloudpickle ships it by value to executors. The returned callable
    satisfies the ``(payload: bytes) -> list[int]`` sample contract;
    its ``.info(payload)`` attribute exposes
    ``(channels, sample_rate, bits_per_sample, n_frames)``."""

    def _decode(payload: bytes, want_info: bool = False):
        import struct as _struct

        if payload[:4] != b"RIFF":
            raise ValueError("not a WAV: bad RIFF signature")
        if len(payload) < 12:
            raise ValueError("truncated WAV header")
        (riff_size,) = _struct.unpack("<I", payload[4:8])
        if riff_size + 8 != len(payload):
            raise ValueError(
                f"WAV RIFF size mismatch: header says {riff_size + 8}, "
                f"payload is {len(payload)} bytes"
            )
        if payload[8:12] != b"WAVE":
            raise ValueError("not a WAV: missing WAVE form type")
        pos = 12
        fmt = None
        data = None
        while pos + 8 <= len(payload):
            cid = payload[pos:pos + 4]
            (csize,) = _struct.unpack("<I", payload[pos + 4:pos + 8])
            body = payload[pos + 8:pos + 8 + csize]
            if len(body) != csize:
                raise ValueError(f"truncated WAV chunk {cid!r}")
            if cid == b"fmt ":
                if csize < 16:
                    raise ValueError("WAV fmt chunk too short")
                fmt = _struct.unpack("<HHIIHH", body[:16])
            elif cid == b"data":
                if fmt is None:
                    raise ValueError("WAV data chunk before fmt")
                data = body
                break
            pos += 8 + csize + (csize & 1)  # chunks are word-aligned
        if fmt is None or data is None:
            raise ValueError("WAV missing fmt or data chunk")
        audio_format, channels, rate, byte_rate, block_align, bits = fmt
        if audio_format != 1:
            raise ValueError(
                f"unsupported WAV format {audio_format} (integer PCM only)"
            )
        if channels < 1 or rate < 1 or bits not in (8, 16, 24, 32):
            raise ValueError(
                f"invalid WAV fmt: channels={channels} rate={rate} bits={bits}"
            )
        if block_align != channels * bits // 8:
            raise ValueError(
                f"WAV block_align {block_align} contradicts "
                f"{channels}ch x {bits}-bit"
            )
        if byte_rate != rate * block_align:
            raise ValueError("WAV byte_rate contradicts rate * block_align")
        if len(data) % block_align:
            raise ValueError("WAV data not a whole number of frames")
        n_frames = len(data) // block_align
        if want_info:
            return channels, rate, bits, n_frames
        bps = bits // 8
        out = []
        for i in range(0, len(data), block_align):
            b = data[i:i + bps]  # first channel only
            if bits == 8:
                out.append(b[0])  # 8-bit WAV is unsigned already
            else:
                s = int.from_bytes(b, "little", signed=True)
                out.append((s >> (bits - 8)) + 128)
        return out

    def decode_fn(payload: bytes):
        return _decode(payload)

    decode_fn.info = lambda payload: _decode(payload, want_info=True)
    return decode_fn


def audio_windows_payloads(frame: DataFrame, decode_fn=None) -> DataFrame:
    """The audio-codec plan over an ALREADY-BINARY ingestion frame
    ``(doc_id, payload binary, format string)`` — the real multimodal
    shape, mirroring :func:`image_decode_payloads`: Arrow-batched
    ``mapInPandas``, the windowing arithmetic (32-sample windows,
    16-sample hop, integer energy/peak, r4-snapped RMS) applied to the
    DECODED samples instead of raw bytes. Same output schema and
    presentation sort as the column-expression default."""
    cols = [f.name for f in AUDIO_SCHEMA.fields]
    w, h = AUDIO_WINDOW, AUDIO_HOP

    # self-contained closure: locals + in-function imports only (the
    # image_decode_payloads cloudpickle note applies verbatim)
    def windows(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import math as _math

        import pandas as _pd

        for pdf in batches:
            if decode_fn is None:
                raise NotImplementedError(
                    "audio codecs are not available in this environment; "
                    "use audio_windows(use_codec=False), or pass "
                    "decode_fn=wav_decode() for RIFF/PCM payloads"
                )
            out: dict[str, list] = {c: [] for c in cols}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                samples = decode_fn(bytes(payload))
                n = len(samples)
                if n < w:
                    continue  # audio convention: incomplete tail dropped
                for idx in range((n - w) // h + 1):
                    chunk = samples[idx * h:idx * h + w]
                    energy = sum(s * s for s in chunk)
                    out["doc_id"].append(doc_id)
                    out["window_idx"].append(idx)
                    out["win_offset"].append(idx * h)
                    out["energy"].append(energy)
                    out["peak"].append(max(chunk))
                    out["rms"].append(
                        _math.floor(
                            _math.sqrt(energy / float(w)) * 10000.0 + 0.5
                        )
                        / 10000.0
                    )
            yield _pd.DataFrame(out) if out["doc_id"] else _pd.DataFrame(
                {c: _pd.Series(dtype="object") for c in cols}
            )

    return frame.mapInPandas(windows, AUDIO_SCHEMA).orderBy(
        "doc_id", "window_idx"
    )


def _audio_windows_codec(docs: DataFrame, decode_fn=None) -> DataFrame:
    """Real-codec extension point for M3 — the docs-shaped wrapper over
    :func:`audio_windows_payloads` (the :func:`_image_decode_codec`
    contract)."""
    return audio_windows_payloads(_binary_payload(docs), decode_fn)


_DUCK_CODES = (
    f"list_transform(range(1, {AUDIO_WINDOW} + 1),"
    " i -> unicode(substr(chunk, i, 1)))"
)

ORACLE_AUDIO_WINDOWS = f"""
WITH wins AS (
  SELECT doc_id,
         unnest(range(0, CAST(FLOOR((strlen(text) - {AUDIO_WINDOW}) / {AUDIO_HOP}.0) AS BIGINT) + 1)) AS window_idx,
         text
  FROM documents
  WHERE strlen(text) >= {AUDIO_WINDOW}
),
chunked AS (
  SELECT doc_id, window_idx,
         substr(text, window_idx * {AUDIO_HOP} + 1, {AUDIO_WINDOW}) AS chunk
  FROM wins
),
scored AS (
  SELECT doc_id, window_idx,
         window_idx * {AUDIO_HOP} AS win_offset,
         CAST(list_sum(list_transform({_DUCK_CODES},
              x -> CAST(x AS BIGINT) * CAST(x AS BIGINT))) AS BIGINT) AS energy,
         CAST(list_max({_DUCK_CODES}) AS BIGINT) AS peak
  FROM chunked
)
SELECT doc_id, window_idx, win_offset, energy, peak,
       FLOOR(sqrt(CAST(energy AS DOUBLE) / {AUDIO_WINDOW}.0) * 10000.0 + 0.5)
         / CAST(10000.0 AS DOUBLE) AS rms
FROM scored
ORDER BY doc_id, window_idx
"""


# ==========================================================================
# M4 — perceptual-hash duplicate groups (aHash over the decode path)
# ==========================================================================
#: perceptual-hash width: 16 mean-threshold blocks → a 16-bit aHash.
PHASH_BITS = 16


def phash_groups(docs: DataFrame) -> DataFrame:
    """M4: average-hash (aHash) perceptual duplicate groups — the image
    near-dup pass a multimodal pipeline runs where text dedup uses md5.
    The payload is split into {nb} equal blocks; bit b = (block-b byte
    mean > global byte mean), compared via integer cross-multiplication
    ({nb}·blocksum > totalsum — no division, no float); payloads agreeing
    on all {nb} bits group together. Unlike the exact checksum (M1),
    payloads differing in a few bytes still collide — the "same image,
    different encoder run" case.

    Scale shape: the hash is a pure projection (one code-point array per
    payload, folded per block inside whole-stage codegen); the only
    shuffle is the groupBy on the 16-bit hash — bounded key space,
    map-side partial aggregation, payload bytes never move. A real
    decoder swaps the byte codes for luma samples via the M1 mapInPandas
    extension point; the hash algebra is unchanged.""".format(nb=PHASH_BITS)
    nb = PHASH_BITS
    w = f"CAST(ceil(length(payload) / {nb}.0) AS INT)"
    codes = "transform(sequence(1, length(payload)), i -> CAST(ascii(substring(payload, i, 1)) AS BIGINT))"
    blocksums = (
        f"transform(sequence(0, {nb - 1}), b -> "
        f"aggregate(slice(codes, b * w + 1, w), 0L, (a, x) -> a + x))"
    )
    phash = (
        f"aggregate(zip_with(blocksums, sequence(0, {nb - 1}), "
        f"(s, b) -> CASE WHEN s * {nb} > total THEN shiftleft(CAST(1 AS BIGINT), b) "
        "ELSE CAST(0 AS BIGINT) END), CAST(0 AS BIGINT), (a, x) -> a + x)"
    )
    return (
        _binary_payload(docs)
        .where(F.length("payload") > 0)
        .selectExpr("doc_id", "payload", f"{w} AS w", f"{codes} AS codes")
        .selectExpr(
            "doc_id",
            f"{blocksums} AS blocksums",
            "aggregate(codes, 0L, (a, x) -> a + x) AS total",
        )
        .selectExpr("doc_id", f"{phash} AS phash")
        .groupBy("phash")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("keeper_doc_id"),
            (F.count("*") - 1).alias("n_perceptual_dups"),
        )
        .orderBy("phash")
    )


def _oracle_phash_groups() -> str:
    nb = PHASH_BITS
    w = f"CAST(ceil(strlen(text) / {nb}.0) AS INT)"
    codes = (
        "list_transform(range(1, strlen(text) + 1), "
        "i -> CAST(unicode(substr(text, i, 1)) AS BIGINT))"
    )
    blocksums = (
        f"list_transform(range(0, {nb}), b -> "
        "COALESCE(CAST(list_sum(list_slice(codes, b * w + 1, b * w + w)) AS BIGINT), 0))"
    )
    phash = (
        f"CAST(list_sum(list_transform(range(0, {nb}), b -> "
        f"CASE WHEN blocksums[b + 1] * {nb} > total THEN (1 << b) "
        "ELSE 0 END)) AS BIGINT)"
    )
    return f"""
WITH sized AS (
  SELECT doc_id, {w} AS w, {codes} AS codes
  FROM documents WHERE strlen(text) > 0
),
summed AS (
  SELECT doc_id, {blocksums} AS blocksums,
         CAST(list_sum(codes) AS BIGINT) AS total
  FROM sized
),
hashed AS (SELECT doc_id, {phash} AS phash FROM summed)
SELECT phash, COUNT(*) AS n_docs, MIN(doc_id) AS keeper_doc_id,
       COUNT(*) - 1 AS n_perceptual_dups
FROM hashed
GROUP BY phash
ORDER BY phash
"""


ORACLE_PHASH_GROUPS = _oracle_phash_groups()


ORACLE_SQL_MULTIMODAL = {
    "multimodal_image_decode": ORACLE_IMAGE_DECODE,
    "multimodal_frame_sample": ORACLE_FRAME_SAMPLE,
    "multimodal_audio_windows": ORACLE_AUDIO_WINDOWS,
    "multimodal_phash_groups": ORACLE_PHASH_GROUPS,
}
