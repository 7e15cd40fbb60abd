"""Multimodal column plumbing: image/audio/video payloads as opaque
``binary`` values with typed metadata, produced by per-row Python
functions that run inside ONE Arrow stage (``arrow_stage``, the
module's only ``mapInPandas``).

The per-row functions compose in plain Python: synthesize a container
from a document text (``image_blob_for_text``, or a WAV container),
optionally corrupt or ``resize`` it, parse it back, and reduce it to
metadata, frames, a histogram, a signature or the blob itself. Each
``*_rows(key, text)`` function is one such chain; the stage applies it
to every row of a ``(key, text)`` frame, batch or ``foreachBatch``, so
the blob never crosses between Python and the JVM mid-chain.

The parse step is a REAL container-format parser: PNG (signature +
IHDR chunk walk with CRC verification), JPEG (SOI + marker-segment walk
to the SOF frame header), GIF (logical screen descriptor), RIFF/WAVE
(chunk walk to ``fmt `` and ``data``). The heavy pixel libraries
(PIL/libvips/ffmpeg) are not in this container, so the payloads are
synthesized as structurally-valid containers by
``synthesize_image_blob`` — the parser does not know or use the
generator's arithmetic; it reads magic bytes, walks segments, and
unpacks FORMAT and DIMENSIONS exactly as it would for a camera file
(the JPEG walk skips APP0/EXIF segments generically). The
``content_hash`` field, by contrast, hashes the generator's framing —
bytes after the first SOF segment — which on a real camera JPEG (SOF
after APPn/DQT/DHT, entropy-coded scan) would not isolate the pixel
payload; treat it as a payload fingerprint, not a pixel hash.
Pixel-level ops (a PIL resize, a colorspace change) drop into the same
per-row chain.
"""

from __future__ import annotations

import hashlib
import struct
import zlib
from collections.abc import Callable, Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

#: Output schema of the decode chain: the typed metadata a real decoder
#: would produce for an image payload.
DECODE_SCHEMA = (
    "key bigint, byte_len int, format string, width int, height int, "
    "channels int, content_hash string"
)

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
#: PNG color type -> sample channels (PNG spec, "Color types and values").
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def synthesize_image_blob(content: bytes, fmt: str, width: int, height: int) -> bytes:
    """Build a structurally-valid minimal container of ``fmt`` with the
    given dimensions carrying ``content`` as the payload body.

    The containers are real enough that an independent parser (this
    module's, or file(1)'s magic tables) reads them: PNG gets a correct
    IHDR chunk with a real CRC; JPEG gets an SOI + SOF0 frame header +
    EOI; GIF gets a GIF89a logical screen descriptor + trailer."""
    if fmt == "png":
        ihdr = struct.pack(">II", width, height) + bytes([8, 2, 0, 0, 0])
        chunk = (
            struct.pack(">I", len(ihdr))
            + b"IHDR"
            + ihdr
            + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr))
        )
        return _PNG_SIG + chunk + content
    if fmt == "jpeg":
        # SOF0: len=17 (2 len + 1 precision + 4 dims + 1 ncomp + 3x3 comps)
        sof = (
            b"\xff\xc0"
            + struct.pack(">H", 17)
            + bytes([8])
            + struct.pack(">HH", height, width)  # JPEG stores height first
            + bytes([3])
            + bytes([1, 0x11, 0, 2, 0x11, 0, 3, 0x11, 0])
        )
        return b"\xff\xd8" + sof + content + b"\xff\xd9"
    if fmt == "gif":
        screen = struct.pack("<HH", width, height) + bytes([0xF7, 0, 0])
        return b"GIF89a" + screen + content + b"\x3b"
    raise ValueError(f"unsupported format: {fmt}")


#: Container overhead in bytes per format (header + trailer around the
#: content body) — used by the SQL oracle to predict byte_len.
CONTAINER_OVERHEAD = {"png": 33, "jpeg": 23, "gif": 14}


def parse_image_header(payload: bytes) -> dict:
    """Structural image-header decode: identify the container by its
    magic bytes and unpack dimensions/channels from the format's own
    header layout. Raises ValueError on empty/corrupt payloads like any
    real decoder."""
    if not payload:
        raise ValueError("empty payload")
    if payload.startswith(_PNG_SIG):
        (length,) = struct.unpack_from(">I", payload, 8)
        ctype = payload[12:16]
        if ctype != b"IHDR":
            raise ValueError("PNG: first chunk is not IHDR")
        data = payload[16 : 16 + length]
        (crc,) = struct.unpack_from(">I", payload, 16 + length)
        if crc != zlib.crc32(ctype + data):
            raise ValueError("PNG: IHDR CRC mismatch")
        width, height = struct.unpack_from(">II", data, 0)
        color_type = data[9]
        content = payload[16 + length + 4 :]
        return _meta(payload, "png", width, height,
                     _PNG_CHANNELS.get(color_type, 3), content)
    if payload.startswith(b"\xff\xd8"):
        # walk marker segments to the first SOF0-SOF3 frame header
        off = 2
        while off + 4 <= len(payload):
            if payload[off] != 0xFF:
                raise ValueError("JPEG: bad marker alignment")
            marker = payload[off + 1]
            (seglen,) = struct.unpack_from(">H", payload, off + 2)
            if 0xC0 <= marker <= 0xC3:
                height, width = struct.unpack_from(">HH", payload, off + 5)
                ncomp = payload[off + 9]
                content_start = off + 2 + seglen
                content = payload[content_start:-2]  # strip EOI
                return _meta(payload, "jpeg", width, height, ncomp, content)
            off += 2 + seglen
        raise ValueError("JPEG: no SOF marker found")
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        width, height = struct.unpack_from("<HH", payload, 6)
        content = payload[13:-1]  # after screen descriptor, strip trailer
        return _meta(payload, "gif", width, height, 3, content)
    raise ValueError("unrecognized container magic")


def _meta(payload: bytes, fmt: str, width: int, height: int,
          channels: int, content: bytes) -> dict:
    return {
        "byte_len": len(payload),
        "format": fmt,
        "width": width,
        "height": height,
        "channels": channels,
        "content_hash": hashlib.sha256(content).hexdigest(),
    }


#: Hash-indexed image-format palette for the blob synthesizer.
IMAGE_FORMATS = ("png", "jpeg", "gif")


def image_params_for(content: bytes) -> tuple:
    """SINGLE source of truth for the deterministic synthesis
    arithmetic (Python half): ``(format, width, height)`` derived from
    ``sha256(content)`` — format = IMAGE_FORMATS[d[0] % 3], width =
    64 + d[1]*8, height = 64 + d[2]*8 where ``d`` is the digest. Byte
    ``d[k]`` corresponds to hex ``substr(sha256(text), 2k+1, 2)`` on
    the SQL side — see ``image_fmt_sql``/``image_width_sql``/
    ``image_height_sql``, the mirrored DuckDB half. Every synthesis
    site (and, via the SQL builders, every oracle) consumes THIS
    function so the arithmetic cannot silently diverge."""
    d = hashlib.sha256(content).digest()
    return IMAGE_FORMATS[d[0] % 3], 64 + d[1] * 8, 64 + d[2] * 8


def image_blob_for_text(text) -> bytes:
    """Synthesize the canonical container for a text payload: utf-8
    bytes ride as the content body; format/dims from
    ``image_params_for``. The first step of every image chain below."""
    content = str(text).encode("utf-8")
    fmt, w, h = image_params_for(content)
    return synthesize_image_blob(content, fmt, w, h)


def image_fmt_sql(col: str = "text") -> str:
    """DuckDB mirror of ``image_params_for``'s format arm (digest byte
    0 == hex chars 1..2)."""
    return (
        f"CASE ('0x' || substr(sha256({col}), 1, 2))::INT % 3 "
        "WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'gif' END"
    )


def image_width_sql(col: str = "text") -> str:
    """DuckDB mirror of ``image_params_for``'s width arm (digest byte
    1 == hex chars 3..4)."""
    return f"(64 + ('0x' || substr(sha256({col}), 3, 2))::INT * 8)"


def image_height_sql(col: str = "text") -> str:
    """DuckDB mirror of ``image_params_for``'s height arm (digest byte
    2 == hex chars 5..6)."""
    return f"(64 + ('0x' || substr(sha256({col}), 5, 2))::INT * 8)"


def wav_params_for(pcm: bytes) -> tuple:
    """SINGLE source of truth for the WAV synthesis arithmetic
    (Python half): ``(sample_rate, channels)`` from sha256 digest
    bytes 3 and 4 — rate = WAV_RATES[d[3] % 4], channels =
    1 + d[4] % 2. SQL mirrors: ``wav_rate_sql``/``wav_channels_sql``."""
    d = hashlib.sha256(pcm).digest()
    return WAV_RATES[d[3] % 4], 1 + d[4] % 2


def wav_rate_sql(col: str = "text") -> str:
    """DuckDB mirror of ``wav_params_for``'s rate arm (digest byte 3
    == hex chars 7..8)."""
    rates = WAV_RATES
    return (
        f"CASE ('0x' || substr(sha256({col}), 7, 2))::INT % 4 "
        f"WHEN 0 THEN {rates[0]} WHEN 1 THEN {rates[1]} "
        f"WHEN 2 THEN {rates[2]} ELSE {rates[3]} END"
    )


def wav_channels_sql(col: str = "text") -> str:
    """DuckDB mirror of ``wav_params_for``'s channels arm (digest byte
    4 == hex chars 9..10)."""
    return f"(1 + ('0x' || substr(sha256({col}), 9, 2))::INT % 2)"


# -- audio: RIFF/WAVE ---------------------------------------------------

AUDIO_SCHEMA = (
    "key bigint, byte_len int, sample_rate int, channels int, "
    "bits_per_sample int, n_samples int, duration_ms double, "
    "content_hash string"
)

#: sample-rate palette the synthesizer draws from (hash-indexed), so
#: the SQL oracle can predict what an independent parse must find.
WAV_RATES = (8000, 16000, 22050, 44100)


def synthesize_wav_blob(pcm: bytes, sample_rate: int, channels: int,
                        bits_per_sample: int = 16) -> bytes:
    """Build a structurally-valid RIFF/WAVE container around ``pcm``:
    RIFF header, canonical PCM ``fmt `` chunk (little-endian, all
    derived fields — block align, byte rate — computed per spec), and a
    ``data`` chunk. file(1)'s magic tables identify the result."""
    block_align = channels * bits_per_sample // 8
    byte_rate = sample_rate * block_align
    fmt = struct.pack(
        "<HHIIHH", 1, channels, sample_rate, byte_rate, block_align,
        bits_per_sample,
    )
    chunks = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(pcm)) + pcm
    )
    return b"RIFF" + struct.pack("<I", len(chunks)) + chunks


def parse_wav_header(payload: bytes) -> dict:
    """Structural WAV decode: verify the RIFF/WAVE magic, walk the
    chunk list to ``fmt `` and ``data`` (skipping unknown chunks, as a
    real parser must — LIST/INFO chunks are common in the wild), and
    derive sample count and duration from the format fields."""
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    fmt_fields = None
    pcm = None
    off = 12
    while off + 8 <= len(payload):
        cid = payload[off : off + 4]
        (clen,) = struct.unpack_from("<I", payload, off + 4)
        body = payload[off + 8 : off + 8 + clen]
        if len(body) < clen:
            raise ValueError(f"WAV: truncated {cid!r} chunk")
        if cid == b"fmt ":
            if clen < 16:
                raise ValueError("WAV: fmt chunk too short")
            fmt_fields = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            pcm = body
        off += 8 + clen + (clen & 1)  # chunks are word-aligned
    if fmt_fields is None or pcm is None:
        raise ValueError("WAV: missing fmt or data chunk")
    _, channels, sample_rate, _, block_align, bits = fmt_fields
    if block_align == 0:
        raise ValueError("WAV: zero block align")
    n_samples = len(pcm) // block_align
    return {
        "byte_len": len(payload),
        "sample_rate": sample_rate,
        "channels": channels,
        "bits_per_sample": bits,
        "n_samples": n_samples,
        "duration_ms": n_samples * 1000.0 / sample_rate,
        "content_hash": hashlib.sha256(pcm).hexdigest(),
    }


def _content_of(payload: bytes, fmt: str) -> bytes:
    """Extract the content body the container carries (inverse of
    ``synthesize_image_blob``'s framing)."""
    if fmt == "png":
        (length,) = struct.unpack_from(">I", payload, 8)
        return payload[16 + length + 4 :]
    if fmt == "jpeg":
        (seglen,) = struct.unpack_from(">H", payload, 4)
        return payload[4 + seglen : -2]
    if fmt == "gif":
        return payload[13:-1]
    raise ValueError(f"unsupported format: {fmt}")


# -- per-row chains ----------------------------------------------------

#: Bounding box of ``resize``: the longer side is scaled down to this.
RESIZE_MAX_SIDE = 256

#: Bins of the content-byte histogram (``byte % HIST_BINS``).
HIST_BINS = 16

#: Frame-sampling parameters for the (stubbed) video path: fixed frame
#: size in bytes and the keep-every-Nth stride. A real pipeline gets
#: these from the container header; frozen here so the SQL oracle can
#: replay the slicing exactly.
FRAME_BYTES = 16
FRAME_STRIDE = 4

#: Every doc_id divisible by this gets its container's magic byte
#: zeroed before the parse — the deterministic corruption model for the
#: quarantine path (no container format starts with 0x00, so the parse
#: MUST reject exactly these rows).
QUARANTINE_MOD = 37

FRAME_SCHEMA = "key bigint, frame_idx int, frame_sha string"
#: One row per (key, bin) — the classic histogram-feature layout (a
#: color histogram would use the same schema with bins over pixels).
FEATURE_SCHEMA = "key bigint, bin int, n int, density double"
SIGNATURE_SCHEMA = "key bigint, sig bigint"
BLOB_SCHEMA = "key bigint, blob binary"
QUARANTINE_SCHEMA = "key bigint, status_format string, byte_len int"


def resize(blob: bytes) -> bytes:
    """Bounding-box resize: scale the image so its longer side is at
    most ``RESIZE_MAX_SIDE``, preserving aspect ratio (integer
    arithmetic: ``new_w = w * RESIZE_MAX_SIDE // max(w, h)``), floored
    at 1px.

    Without pixel libraries the raster step is the header rewrite: the
    container is re-synthesized with the new dimensions — a REAL
    rewrite (fresh PNG CRC, fresh JPEG SOF, fresh GIF screen
    descriptor) whose output must re-parse; the content body passes
    through untouched."""
    meta = parse_image_header(blob)
    w, h = meta["width"], meta["height"]
    mx = max(w, h)
    if mx > RESIZE_MAX_SIDE:
        w = max(1, w * RESIZE_MAX_SIDE // mx)
        h = max(1, h * RESIZE_MAX_SIDE // mx)
    return synthesize_image_blob(
        _content_of(blob, meta["format"]), meta["format"], w, h
    )


def body(blob: bytes) -> bytes:
    """The content body of a parsed image container."""
    return _content_of(blob, parse_image_header(blob)["format"])


def histogram(blob: bytes) -> list[tuple]:
    """``(bin, n, density)`` rows: a ``HIST_BINS``-bin histogram of
    ``byte % HIST_BINS`` over the decoded content body (for a raster
    image the same step computes a color histogram; for audio, energy
    bands)."""
    content = body(blob)
    counts = np.bincount(
        np.frombuffer(content, dtype=np.uint8) % HIST_BINS,
        minlength=HIST_BINS,
    )
    total = max(len(content), 1)
    # epsilon matches stable_round/stabilize_rounds at scale 6
    return [
        (k, int(counts[k]), round(counts[k] / total + 5e-9, 6))
        for k in range(HIST_BINS)
    ]


def signature(blob: bytes) -> int:
    """60-bit signature of the decoded content body, for banded
    near-duplicate blocking.

    STUB NOTE: with no imaging libraries in this container, the
    "perceptual" signature is md5 of the decoded content body (so it is
    deterministic, engine-predictable, and sensitive only to the
    content — not the container). Production swaps exactly this line
    for a real dHash/pHash over decoded pixels."""
    return int(hashlib.md5(body(blob)).hexdigest()[:15], 16)


def meta_rows(key, text) -> list[tuple]:
    """synthesize → parse → one ``DECODE_SCHEMA`` row."""
    return [tuple(parse_image_header(image_blob_for_text(text)).values())]


def resized_meta_rows(key, text) -> list[tuple]:
    """synthesize → resize → parse → one ``DECODE_SCHEMA`` row: the
    re-parse proves the rewritten header."""
    blob = resize(image_blob_for_text(text))
    return [tuple(parse_image_header(blob).values())]


def audio_rows(key, text) -> list[tuple]:
    """synthesize a WAV container (the text bytes ride as PCM data,
    rate/channels from ``wav_params_for``) → parse → one
    ``AUDIO_SCHEMA`` row."""
    pcm = str(text).encode("utf-8")
    blob = synthesize_wav_blob(pcm, *wav_params_for(pcm))
    return [tuple(parse_wav_header(blob).values())]


def frame_rows(key, text) -> list[tuple]:
    """Every ``FRAME_STRIDE``-th fixed-size frame of the text bytes
    (the stubbed video payload), as ``(frame_idx, frame_sha)`` rows —
    an ffmpeg keyframe extractor slots in here."""
    payload = str(text).encode("utf-8")
    return [
        (i, hashlib.sha256(
            payload[i * FRAME_BYTES : (i + 1) * FRAME_BYTES]
        ).hexdigest())
        for i in range(0, len(payload) // FRAME_BYTES, FRAME_STRIDE)
    ]


def histogram_rows(key, text) -> list[tuple]:
    """synthesize → parse → ``HIST_BINS`` ``FEATURE_SCHEMA`` rows."""
    return histogram(image_blob_for_text(text))


def signature_rows(key, text) -> list[tuple]:
    """synthesize → parse → one ``(sig,)`` row."""
    return [(signature(image_blob_for_text(text)),)]


def blob_rows(key, text) -> list[tuple]:
    """synthesize → one ``(blob,)`` row."""
    return [(image_blob_for_text(text),)]


def quarantine_rows(key, text) -> list[tuple]:
    """synthesize → corrupt (keys divisible by ``QUARANTINE_MOD``) →
    parse, with the error path a real ingest needs: a parse failure is
    caught PER ROW and emitted as ``status_format = 'quarantined'``
    instead of failing the task. One ``(status_format, byte_len)``
    row."""
    blob = image_blob_for_text(text)
    if int(key) % QUARANTINE_MOD == 0:
        blob = b"\x00" + blob[1:]
    try:
        status = parse_image_header(blob)["format"]
    except ValueError:
        status = "quarantined"
    return [(status, len(blob))]


def arrow_stage(
    df: DataFrame,
    rows: Callable[[int, str], Iterable[tuple]],
    schema: str,
) -> DataFrame:
    """The family's one ``mapInPandas``: apply ``rows(key, text)`` to
    every row of a ``(key, text)`` frame; each returned tuple becomes
    one output row after ``key``, typed by ``schema``.

    Arrow moves each partition to Python in columnar batches and the
    chain runs per row inside the batch, so 1 → N fan-outs (frames,
    histogram bins) happen in the batch and only the chain's output
    crosses back to the JVM. Narrow transform: the stage never
    repartitions — scan width is the caller's."""
    names = [field.split()[0] for field in schema.split(",")]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame.from_records(
                [
                    (key, *out)
                    for key, text in zip(pdf["key"], pdf["text"])
                    for out in rows(key, text)
                ],
                columns=names,
            )

    return df.mapInPandas(batches, schema)
