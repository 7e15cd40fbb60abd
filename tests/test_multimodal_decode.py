"""Structural image-header decode: round-trip through real containers,
corrupt-input rejection, and endianness traps."""

from __future__ import annotations

import hashlib
import struct

import pytest

from kafka_go_streamer_spark.multimodal import (
    CONTAINER_OVERHEAD,
    parse_image_header,
    synthesize_image_blob,
)

CONTENT = b"some payload bytes for the content body"


@pytest.mark.parametrize("fmt", ["png", "jpeg", "gif"])
def test_roundtrip(fmt):
    blob = synthesize_image_blob(CONTENT, fmt, width=640, height=480)
    meta = parse_image_header(blob)
    assert meta["format"] == fmt
    assert (meta["width"], meta["height"]) == (640, 480)
    assert meta["channels"] == 3
    assert meta["byte_len"] == len(CONTENT) + CONTAINER_OVERHEAD[fmt]
    assert meta["content_hash"] == hashlib.sha256(CONTENT).hexdigest()


def test_asymmetric_dims_not_swapped():
    """JPEG stores height before width and GIF is little-endian — a
    parser that gets either wrong passes square-image tests."""
    for fmt in ("png", "jpeg", "gif"):
        meta = parse_image_header(
            synthesize_image_blob(CONTENT, fmt, width=300, height=7)
        )
        assert (meta["width"], meta["height"]) == (300, 7), fmt


def test_png_crc_verified():
    blob = bytearray(synthesize_image_blob(CONTENT, "png", 64, 64))
    blob[18] ^= 0xFF  # flip a width byte inside IHDR -> CRC mismatch
    with pytest.raises(ValueError, match="CRC"):
        parse_image_header(bytes(blob))


def test_jpeg_walks_past_other_segments():
    """SOF need not be the first marker — insert an APP0 (JFIF) segment
    ahead of it and the walker must skip over it."""
    plain = synthesize_image_blob(CONTENT, "jpeg", 123, 45)
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + bytes(9)
    with_app0 = plain[:2] + app0 + plain[2:]
    meta = parse_image_header(with_app0)
    assert (meta["width"], meta["height"]) == (123, 45)


def test_rejects_garbage_and_empty():
    with pytest.raises(ValueError):
        parse_image_header(b"")
    with pytest.raises(ValueError):
        parse_image_header(b"not an image at all")


def test_png_channels_from_color_type():
    blob = bytearray(synthesize_image_blob(CONTENT, "png", 10, 10))
    # patch color type (offset 16+9) to 6 = RGBA, then refresh the CRC
    import zlib

    blob[25] = 6
    ihdr = bytes(blob[16:29])
    blob[29:33] = struct.pack(">I", zlib.crc32(b"IHDR" + ihdr))
    assert parse_image_header(bytes(blob))["channels"] == 4


# -- audio: RIFF/WAVE ---------------------------------------------------

from kafka_go_streamer_spark.multimodal import (  # noqa: E402
    parse_wav_header,
    synthesize_wav_blob,
)

PCM = b"0123456789abcdef0123"  # 20 bytes


def test_wav_roundtrip():
    meta = parse_wav_header(synthesize_wav_blob(PCM, 22050, 2))
    assert meta["sample_rate"] == 22050
    assert meta["channels"] == 2
    assert meta["bits_per_sample"] == 16
    assert meta["n_samples"] == 5  # 20 bytes / (2 ch * 2 B)
    assert meta["duration_ms"] == pytest.approx(5 * 1000.0 / 22050)
    assert meta["content_hash"] == hashlib.sha256(PCM).hexdigest()


def test_wav_skips_unknown_chunks():
    """LIST/INFO chunks ahead of data are ubiquitous in the wild; the
    chunk walk must skip them, including the word-alignment pad byte
    after an odd-length chunk."""
    blob = synthesize_wav_blob(PCM, 8000, 1)
    # splice an odd-length junk chunk between fmt and data
    fmt_end = 12 + 8 + 16
    junk = b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"  # pad to even
    spliced = blob[:fmt_end] + junk + blob[fmt_end:]
    meta = parse_wav_header(spliced)
    assert meta["n_samples"] == len(PCM) // 2
    assert meta["content_hash"] == hashlib.sha256(PCM).hexdigest()


def test_wav_rejects_corrupt():
    with pytest.raises(ValueError):
        parse_wav_header(b"RIFFxxxxNOPE")
    with pytest.raises(ValueError):
        parse_wav_header(synthesize_wav_blob(PCM, 8000, 1)[:20])  # no data chunk


def test_resize_rewrites_header_and_preserves_content():
    from kafka_go_streamer_spark.multimodal import resize

    blob = synthesize_image_blob(b"payload-bytes", "png", 2000, 1000)
    meta = parse_image_header(blob)
    assert (meta["width"], meta["height"]) == (2000, 1000)
    # resize arithmetic: 2000 -> 256, 1000 -> 128
    m2 = parse_image_header(resize(blob))  # fresh CRC must verify
    assert (m2["width"], m2["height"]) == (256, 128)
    assert m2["content_hash"] == meta["content_hash"]


def test_resize_keeps_small_images():
    from kafka_go_streamer_spark.multimodal import resize

    blob = synthesize_image_blob(b"x", "gif", 100, 50)
    meta = parse_image_header(resize(blob))
    assert (meta["width"], meta["height"]) == (100, 50)


def test_byte_histogram_counts():
    from kafka_go_streamer_spark.multimodal import histogram

    # content "AAAA": ord('A') = 65, 65 % 16 = 1 -> bin 1 has n=4
    blob = synthesize_image_blob(b"AAAA", "jpeg", 64, 64)
    rows = {b: (n, density) for b, n, density in histogram(blob)}
    assert len(rows) == 16
    assert rows[1][0] == 4 and abs(rows[1][1] - 1.0) < 1e-6
    assert all(rows[b][0] == 0 for b in rows if b != 1)
