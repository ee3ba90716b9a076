"""Real media-container header parsing over binary payload columns.

Unlike the stubbed pixel decode in ``multimodal/__init__.py`` (which
needs PIL/ffmpeg — absent here), container *headers* are pure byte
layout: this module sniffs magic bytes and struct-unpacks the
dimension/rate fields for PNG, GIF, JPEG and RIFF/WAVE with only the
standard library. That is the real first stage of any 100 TB media
ingest (format routing + metadata extraction before the expensive
decode), run as one Arrow-batched ``map_rows`` pass so whole record batches
cross the Python boundary at once.

The paired synthesizer builds *valid* minimal containers (correct
signatures, chunk layout and CRCs) whose parameters are deterministic
arithmetic on ``asset_id`` — so a DuckDB oracle can recompute the
expected parse output without ever touching bytes, giving the binary
round-trip a hash-exact cross-engine check.

Reference scope note: the reference engine (rickbeeloo/QueryEngine)
has no media handling at all; this is part of the driver's
training-data-pipeline extension surface.
"""

from __future__ import annotations

import struct
import zlib

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from queryengine_spark.plans import map_rows

# ---------------------------------------------------------------- synthesis

#: deterministic synthesis parameters (mirrored in the oracle SQL —
#: keep in sync with queries/multimodal.py::HEADER_PARSE_SQL)
PNG_W_MULT, PNG_H_MULT, PNG_DIM_MOD = 7919, 104729, 2048
WAV_RATES = (8000, 16000, 22050, 44100)


def png_params(asset_id: int) -> tuple[int, int]:
    return (
        16 + (asset_id * PNG_W_MULT) % PNG_DIM_MOD,
        16 + (asset_id * PNG_H_MULT) % PNG_DIM_MOD,
    )


def wav_params(asset_id: int) -> tuple[int, int, int]:
    """(sample_rate, channels, n_samples)."""
    return (
        WAV_RATES[(asset_id // 2) % 4],
        1 + (asset_id // 2) % 2,
        100 + asset_id % 400,
    )


def make_png(width: int, height: int) -> bytes:
    """Minimal spec-valid PNG prefix: signature + IHDR (real CRC) +
    IEND. Pixel data (IDAT) omitted — header-complete, which is the
    contract this module parses."""
    sig = b"\x89PNG\r\n\x1a\n"
    ihdr = struct.pack(">II5B", width, height, 8, 6, 0, 0, 0)
    chunks = [(b"IHDR", ihdr), (b"IEND", b"")]
    out = [sig]
    for ctype, body in chunks:
        out.append(struct.pack(">I", len(body)))
        out.append(ctype)
        out.append(body)
        out.append(struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF))
    return b"".join(out)


def make_wav(sample_rate: int, channels: int, n_samples: int, bits: int = 16) -> bytes:
    """Complete PCM WAV: RIFF/WAVE + fmt chunk + silent data chunk."""
    block_align = channels * bits // 8
    data = b"\x00" * (n_samples * block_align)
    fmt = struct.pack(
        "<HHIIHH", 1, channels, sample_rate, sample_rate * block_align, block_align, bits
    )
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


ASSET_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("media_type", StringType(), False),
        StructField("payload", BinaryType(), True),
    ]
)


def synthesize_media(ids: DataFrame, id_col: str = "asset_id") -> DataFrame:
    """One valid media container per input row: PNG for even ids, WAV
    for odd ids, parameters = arithmetic on the id (see png_params /
    wav_params). One map_rows pass, so payload bytes are built batch-at-a-time
    worker-side — the driver never sees them."""

    def synth(aid):
        if aid % 2 == 0:
            return [(aid, "image/png", make_png(*png_params(aid)))]
        return [(aid, "audio/wav", make_wav(*wav_params(aid)))]

    return map_rows(ids, ASSET_SCHEMA, synth, id_col)


# ---------------------------------------------------------------- parsing

HEADER_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("fmt", StringType(), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("sample_rate", IntegerType(), True),
        StructField("channels", IntegerType(), True),
        StructField("duration_ms", LongType(), True),
        StructField("n_bytes", LongType(), True),
    ]
)

_SOF_MARKERS = frozenset(
    range(0xC0, 0xC4)
) | frozenset(range(0xC5, 0xC8)) | frozenset(range(0xC9, 0xCC)) | frozenset(
    range(0xCD, 0xD0)
)  # SOF0-15 minus DHT(C4)/DAC(CC) per JPEG spec


def parse_header(b: bytes) -> dict:
    """Sniff + parse one container's header. Returns the HEADER_SCHEMA
    fields (minus asset_id/n_bytes). Unknown/truncated → fmt='unknown'."""
    none = {
        "fmt": "unknown",
        "width": None,
        "height": None,
        "sample_rate": None,
        "channels": None,
        "duration_ms": None,
    }
    if b.startswith(b"\x89PNG\r\n\x1a\n") and len(b) >= 24 and b[12:16] == b"IHDR":
        w, h = struct.unpack(">II", b[16:24])
        return {**none, "fmt": "png", "width": w, "height": h}
    if b[:6] in (b"GIF87a", b"GIF89a") and len(b) >= 10:
        w, h = struct.unpack("<HH", b[6:10])
        return {**none, "fmt": "gif", "width": w, "height": h}
    if b[:4] == b"RIFF" and b[8:12] == b"WAVE":
        # walk chunks: fmt for rate/channels, data for duration
        pos, rate, ch, block_align, data_len = 12, None, None, None, None
        while pos + 8 <= len(b):
            cid = b[pos : pos + 4]
            (clen,) = struct.unpack("<I", b[pos + 4 : pos + 8])
            if cid == b"fmt " and pos + 24 <= len(b):
                _, ch, rate, _, block_align, _ = struct.unpack(
                    "<HHIIHH", b[pos + 8 : pos + 24]
                )
            elif cid == b"data":
                data_len = clen
            pos += 8 + clen + (clen & 1)  # chunks are word-aligned
        if rate:
            dur = (
                data_len * 1000 // (rate * block_align)
                if data_len is not None and block_align
                else None
            )
            return {
                **none,
                "fmt": "wav",
                "sample_rate": rate,
                "channels": ch,
                "duration_ms": dur,
            }
        return none
    if b[:2] == b"\xff\xd8":  # JPEG SOI: scan segments for a SOF
        pos = 2
        while pos + 2 <= len(b):
            if b[pos] != 0xFF:
                break
            # 0xFF fill bytes before a marker are spec-legal padding
            while pos + 1 < len(b) and b[pos + 1] == 0xFF:
                pos += 1
            if pos + 1 >= len(b):
                break  # payload ends in fill bytes — marker byte missing
            marker = b[pos + 1]
            if marker in _SOF_MARKERS:
                if pos + 9 > len(b):
                    break
                h, w = struct.unpack(">HH", b[pos + 5 : pos + 9])
                return {**none, "fmt": "jpeg", "width": w, "height": h}
            if marker == 0xD9:  # EOI
                break
            if marker == 0x01 or 0xD0 <= marker <= 0xD8:
                # TEM / RST0-7 / SOI are standalone — no length field
                pos += 2
                continue
            if pos + 4 > len(b):
                break
            (seglen,) = struct.unpack(">H", b[pos + 2 : pos + 4])
            if seglen < 2:
                break  # corrupt length; stop rather than loop
            pos += 2 + seglen
        return {**none, "fmt": "jpeg"}
    return none


def parse_media_headers(assets: DataFrame) -> DataFrame:
    """Arrow-batched header extraction over binary payloads — format
    routing + metadata without decoding pixels/samples. At scale this
    is the cheap pre-pass that partitions a mixed media lake by format
    before expensive per-format decode stages."""

    def parse(aid, p):
        b = p or b""
        # parse_header's dict is in HEADER_SCHEMA order
        return [(aid, *parse_header(b).values(), len(b))]

    return map_rows(assets, HEADER_SCHEMA, parse, "asset_id", "payload")
