"""Archive shard source: WebDataset-style TAR and ZIP containers.

Large multimodal training corpora ship as *shards* — tar (WebDataset
convention: members ``{sample_key}.{ext}``, one sample = all members
sharing a basename) or zip archives, thousands of members each, read
sequentially per shard. This module gives the engine a real archive
reader with the same correctness story as the codec matrix
(multimodal/bmp.py): shards are SYNTHESIZED from arithmetic member
formulas worker-side, parsed back for REAL (USTAR header walk with
checksum verification / ZIP central-directory walk with CRC-32 and
deflate inflation), and the DuckDB oracle recomputes every member
size, payload byte-sum, order-weighted sum and name hash FROM THE
FORMULA — a hash match certifies the octal size fields, 512-byte
block geometry, prefix joining, EOCD/central/local consistency checks
and the stored/deflate extraction paths, not just that a magic number
matched.

Scale shape: one shard is one input row; parsing and per-shard
aggregation happen inside a single map_rows pass (row-linear, no
shuffle, no driver state). At 100 TB the shard relation is just a
binary column — e.g. ``spark.read.format("binaryFile")`` over an
object store — and this same pass fans members out of each shard on
whatever executor holds it.

Reference scope note: the reference engine (rickbeeloo/QueryEngine,
src/heurFuzz.py) reads plain text files; archive ingestion is part of
the LLM-data-pipeline surface this repo adds beyond the reference
(task brief: multimodal columns / training-data pipeline operators).
"""

from __future__ import annotations

import base64
import binascii
import bz2
import hashlib
import json
import lzma
import struct
import zlib

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from queryengine_spark.plans import map_rows

# ---------------------------------------------------------------------------
# deterministic synthesis parameters — mirrored in the oracle SQL
# (queries/archives.py::SOURCE_ARCHIVE_SHARDS_SQL); keep in sync.
# ---------------------------------------------------------------------------
SAMP_MOD = 5  # samples per shard: 2 + shard % SAMP_MOD  (2..6)
TXT_SZ_A, TXT_SZ_MOD, TXT_SZ_BASE = 7, 33, 8
BIN_SZ_A, BIN_SZ_B, BIN_SZ_MOD, BIN_SZ_BASE = 11, 3, 57, 16
TXT_MULT, TXT_S = 5, 17  # txt byte[i] = 32 + (5*i + 17*s + shard) % 95
BIN_MULT, BIN_S, BIN_A = 7, 29, 13  # bin byte[i] = (7i + 29s + 13*shard) % 256
NAME_HASH_HEX = 12  # md5 prefix hex chars for the member-name hash


def shard_samples(shard_id: int) -> int:
    return 2 + shard_id % SAMP_MOD


def member_sizes(shard_id: int, s: int) -> tuple[int, int]:
    """(txt_size, bin_size) of sample ``s`` — the formula the oracle
    recomputes symbolically."""
    return (
        TXT_SZ_BASE + (TXT_SZ_A * s + shard_id) % TXT_SZ_MOD,
        BIN_SZ_BASE + (BIN_SZ_A * s + BIN_SZ_B * shard_id) % BIN_SZ_MOD,
    )


def member_payload(shard_id: int, s: int, ext: str) -> bytes:
    txt_size, bin_size = member_sizes(shard_id, s)
    if ext == "txt":
        return bytes(
            32 + (TXT_MULT * i + TXT_S * s + shard_id) % 95 for i in range(txt_size)
        )
    return bytes(
        (BIN_MULT * i + BIN_S * s + BIN_A * shard_id) % 256 for i in range(bin_size)
    )


def shard_members(shard_id: int) -> list[tuple[str, bytes]]:
    """(name, payload) pairs in archive order — txt before bin per
    sample, samples ascending (the WebDataset grouping convention:
    basename = sample key)."""
    out: list[tuple[str, bytes]] = []
    for s in range(shard_samples(shard_id)):
        key = f"{s:06d}"
        out.append((f"{key}.txt", member_payload(shard_id, s, "txt")))
        out.append((f"{key}.bin", member_payload(shard_id, s, "bin")))
    return out


# ---------------------------------------------------------------------------
# TAR (POSIX ustar) writer + reader
# ---------------------------------------------------------------------------
_TAR_BLOCK = 512
_TAR_RECORD = 10240  # classic 20-block blocking factor


def _tar_header(name: str, size: int, typeflag: bytes = b"0") -> bytes:
    """Spec-valid POSIX ustar header (magic 'ustar\\0' version '00');
    checksum is the byte-sum with the chksum field as 8 spaces."""
    name_b = name.encode()
    prefix = b""
    if len(name_b) > 100:  # ustar prefix split at a '/' boundary
        cut = name_b[: len(name_b) - 100].rfind(b"/")
        if cut < 0:
            raise ValueError("name too long for ustar")
        prefix, name_b = name_b[:cut], name_b[cut + 1 :]
    hdr = bytearray(_TAR_BLOCK)
    hdr[0:100] = name_b.ljust(100, b"\0")
    hdr[100:108] = b"0000644\0"
    hdr[108:116] = b"0000000\0"
    hdr[116:124] = b"0000000\0"
    hdr[124:136] = (b"%011o" % size) + b"\0"
    hdr[136:148] = b"00000000000\0"  # mtime pinned: deterministic bytes
    hdr[148:156] = b" " * 8  # chksum placeholder
    hdr[156:157] = typeflag
    hdr[257:263] = b"ustar\0"
    hdr[263:265] = b"00"
    hdr[345 : 345 + len(prefix)] = prefix
    chk = sum(hdr)
    hdr[148:156] = (b"%06o" % chk) + b"\0 "
    return bytes(hdr)


def make_tar_shard(shard_id: int) -> bytes:
    out = bytearray()
    for name, payload in shard_members(shard_id):
        out += _tar_header(name, len(payload))
        out += payload
        pad = -len(payload) % _TAR_BLOCK
        out += b"\0" * pad
    out += b"\0" * (2 * _TAR_BLOCK)  # end-of-archive marker
    out += b"\0" * (-len(out) % _TAR_RECORD)  # pad to the blocking factor
    return bytes(out)


def make_tgz_shard(shard_id: int) -> bytes:
    """gzip-compressed tar shard (WebDataset ``.tar.gz`` — the other
    half of how shards actually ship). Hand-assembled RFC 1952
    member: magic/CM=deflate, FNAME flag carrying the shard name (so
    the reader's flag walk is exercised, not just the fast path),
    deterministic MTIME, raw-deflate body, CRC32 + ISIZE trailer."""
    raw = make_tar_shard(shard_id)
    co = zlib.compressobj(6, zlib.DEFLATED, -15)
    body = co.compress(raw) + co.flush()
    name = f"shard-{shard_id:06d}.tar".encode()
    mtime = (1_700_000_000 + shard_id) & 0xFFFFFFFF
    return (
        b"\x1f\x8b\x08\x08"  # magic, CM=8, FLG=FNAME
        + struct.pack("<I", mtime)
        + b"\x00\xff"  # XFL, OS=unknown
        + name + b"\x00"
        + body
        + struct.pack("<II", zlib.crc32(raw) & 0xFFFFFFFF, len(raw) & 0xFFFFFFFF)
    )


def _parse_gzip(b: bytes) -> bytes | None:
    """RFC 1952 reader: validates magic/CM, walks the optional fields
    (FEXTRA length-skip, FNAME/FCOMMENT zero-scan, FHCRC verified
    against the header CRC), inflates the raw-deflate body, and
    verifies the CRC32 + ISIZE trailer. Multi-member streams and
    trailing garbage are refused (a shard is one member), as are
    reserved flag bits — None, never a guess."""
    if len(b) < 18 or b[:2] != b"\x1f\x8b" or b[2] != 8:
        return None
    flg = b[3]
    if flg & 0xE0:  # reserved bits set
        return None
    p = 10
    if flg & 0x04:  # FEXTRA
        if p + 2 > len(b):
            return None
        (xlen,) = struct.unpack_from("<H", b, p)
        p += 2 + xlen
    for bit in (0x08, 0x10):  # FNAME, FCOMMENT: zero-terminated
        if flg & bit:
            q = b.find(b"\x00", p)
            if q < 0:
                return None
            p = q + 1
    if flg & 0x02:  # FHCRC: low 16 bits of the header CRC
        if p + 2 > len(b):
            return None
        (hcrc,) = struct.unpack_from("<H", b, p)
        if hcrc != (zlib.crc32(b[:p]) & 0xFFFF):
            return None
        p += 2
    if p >= len(b):
        return None
    d = zlib.decompressobj(-15)
    try:
        raw = d.decompress(b[p:])
        raw += d.flush()
    except zlib.error:
        return None
    if not d.eof or len(d.unused_data) != 8:  # exactly the trailer
        return None
    crc, isize = struct.unpack("<II", d.unused_data)
    if crc != (zlib.crc32(raw) & 0xFFFFFFFF) or isize != (len(raw) & 0xFFFFFFFF):
        return None
    return raw


def _parse_tar(b: bytes) -> list[tuple[str, bytes]] | None:
    """USTAR walk: checksum-verified headers, prefix joining, pax
    ('x'/'g') and directory ('5') members skipped, GNU longname ('L'/
    'K') refused (unsupported extension — honest refusal, never a
    mangled name). Returns None on any structural violation."""
    out: list[tuple[str, bytes]] = []
    p = 0
    while p + _TAR_BLOCK <= len(b):
        hdr = b[p : p + _TAR_BLOCK]
        if hdr.count(0) == _TAR_BLOCK:  # first zero block → end marker
            return out
        if hdr[257:262] != b"ustar":
            return None
        try:
            stored = int(hdr[148:156].replace(b"\0", b" ").strip() or b"0", 8)
            size = int(hdr[124:136].replace(b"\0", b" ").strip() or b"0", 8)
        except ValueError:
            return None
        if sum(hdr[:148]) + 8 * 0x20 + sum(hdr[156:]) != stored:
            return None
        typeflag = hdr[156:157]
        name = hdr[0:100].split(b"\0", 1)[0].decode(errors="replace")
        prefix = hdr[345:500].split(b"\0", 1)[0].decode(errors="replace")
        if prefix:
            name = prefix + "/" + name
        payload_end = p + _TAR_BLOCK + size
        if payload_end > len(b):
            return None  # truncated member
        if typeflag in (b"L", b"K"):
            return None
        if typeflag in (b"0", b"\0") and not name.endswith("/"):
            out.append((name, b[p + _TAR_BLOCK : payload_end]))
        # '5' (dir), 'x'/'g' (pax), symlinks: skip member + payload
        p = p + _TAR_BLOCK + size + (-size % _TAR_BLOCK)
    return None  # ran off the end without the zero-block marker


# ---------------------------------------------------------------------------
# ZIP writer + reader (stored for .bin, deflate for .txt)
# ---------------------------------------------------------------------------
_ZIP_LOCAL, _ZIP_CENTRAL, _ZIP_EOCD = 0x04034B50, 0x02014B50, 0x06054B50


def make_zip_shard(shard_id: int) -> bytes:
    locals_: list[bytes] = []
    centrals: list[bytes] = []
    offset = 0
    for name, payload in shard_members(shard_id):
        method = 8 if name.endswith(".txt") else 0
        if method == 8:
            co = zlib.compressobj(6, zlib.DEFLATED, -15)
            data = co.compress(payload) + co.flush()
        else:
            data = payload
        crc = zlib.crc32(payload) & 0xFFFFFFFF
        nb = name.encode()
        lhdr = struct.pack(
            "<IHHHHHIIIHH",
            _ZIP_LOCAL, 20, 0, method, 0, 0, crc, len(data), len(payload),
            len(nb), 0,
        )
        locals_.append(lhdr + nb + data)
        centrals.append(
            struct.pack(
                "<IHHHHHHIIIHHHHHII",
                _ZIP_CENTRAL, 20, 20, 0, method, 0, 0, crc, len(data),
                len(payload), len(nb), 0, 0, 0, 0, 0, offset,
            )
            + nb
        )
        offset += len(lhdr) + len(nb) + len(data)
    cd = b"".join(centrals)
    eocd = struct.pack(
        "<IHHHHIIH",
        _ZIP_EOCD, 0, 0, len(centrals), len(centrals), len(cd), offset, 0,
    )
    return b"".join(locals_) + cd + eocd


def _parse_zip(b: bytes) -> list[tuple[str, bytes]] | None:
    """Central-directory walk (the authoritative record per APPNOTE):
    locate EOCD from the tail, walk central entries, cross-check each
    local header's name, inflate/copy, verify CRC-32 and uncompressed
    size. Streaming entries (flag bit 3: sizes deferred to a data
    descriptor) are refused. Returns None on any violation."""
    tail = b[-(65536 + 22) :]
    eocd_rel = tail.rfind(struct.pack("<I", _ZIP_EOCD))
    if eocd_rel < 0 or eocd_rel + 22 > len(tail):
        return None
    eocd = tail[eocd_rel : eocd_rel + 22]
    _, _, _, n_here, n_total, cd_size, cd_off, _ = struct.unpack("<IHHHHIIH", eocd)
    if n_here != n_total or cd_off + cd_size > len(b):
        return None
    out: list[tuple[str, bytes]] = []
    p = cd_off
    for _ in range(n_total):
        if p + 46 > len(b) or struct.unpack_from("<I", b, p)[0] != _ZIP_CENTRAL:
            return None
        (_, _, _, flags, method, _, _, crc, csize, usize,
         nlen, elen, clen, _, _, _, loff) = struct.unpack_from("<IHHHHHHIIIHHHHHII", b, p)
        name = b[p + 46 : p + 46 + nlen].decode(errors="replace")
        p += 46 + nlen + elen + clen
        if flags & 0x08:  # data-descriptor streaming entry
            return None
        if loff + 30 > len(b) or struct.unpack_from("<I", b, loff)[0] != _ZIP_LOCAL:
            return None
        lnlen, lelen = struct.unpack_from("<HH", b, loff + 26)
        lname = b[loff + 30 : loff + 30 + lnlen]
        if lname != name.encode():
            return None  # local/central name mismatch
        dstart = loff + 30 + lnlen + lelen
        if dstart + csize > len(b):
            return None
        raw = b[dstart : dstart + csize]
        if method == 0:
            payload = raw
        elif method == 8:
            try:
                d = zlib.decompressobj(-15)
                payload = d.decompress(raw) + d.flush()
            except zlib.error:
                return None
        else:
            return None  # unsupported compression method
        if len(payload) != usize or (zlib.crc32(payload) & 0xFFFFFFFF) != crc:
            return None
        if not name.endswith("/"):
            out.append((name, payload))
    return out


# ---------------------------------------------------------------------------
# dispatch + Spark plumbing
# ---------------------------------------------------------------------------
def make_tbz_shard(shard_id: int) -> bytes:
    """bzip2-compressed tar shard (``.tar.bz2`` — the other classic
    WebDataset/archive.org flavor, r9): the SAME tar bytes under the
    stdlib bzip2 stream. Container walk stays the from-scratch ustar
    parser; the entropy layer, like zlib elsewhere, is the stdlib's.
    Corpus slot flipped into source_archive_shards in round 10.
    Compression level 1: the level is not load-bearing (the decoder
    accepts any; the oracle certifies member stats, not bytes) and
    level 9 dominated the synthesis leg's wall clock at sf0.1."""
    return bz2.compress(make_tar_shard(shard_id), 1)


def make_txz_shard(shard_id: int) -> bytes:
    """xz-compressed tar shard (``.tar.xz``, r9): the same tar bytes
    as a single-stream xz container (stdlib LZMA2). Preset 0 — see
    make_tbz_shard on why the level is not load-bearing (xz's
    per-call dictionary setup at preset 6 was the whole cost)."""
    return lzma.compress(
        make_tar_shard(shard_id), format=lzma.FORMAT_XZ, preset=0
    )


def _zstd_compress(raw: bytes) -> bytes:
    """Synthesis-side zstd ENCODER: pyarrow's bundled real libzstd
    (a public Spark dependency), level 3 — a real entropy-coded frame
    so the corpus slot exercises the from-scratch decoder's Huffman/
    FSE paths, not just raw blocks. The DECODE side never touches
    pyarrow: parse_archive goes through sources/zstd.py (RFC 8878
    from scratch), mirroring how gzip slots pair a stdlib-written
    container with the hand-written RFC 1952 reader."""
    import pyarrow as pa  # noqa: PLC0415 — synthesis-only dependency

    return bytes(pa.Codec("zstd", compression_level=3).compress(raw))


def make_tzst_shard(shard_id: int) -> bytes:
    """zstd-compressed tar shard (``.tar.zst``, r11 — the dominant
    compression of modern LLM-corpus distribution): the SAME tar
    bytes under one RFC 8878 frame. Decoded by the from-scratch
    frame decoder (sources/zstd.py), then the same ustar walk."""
    return _zstd_compress(make_tar_shard(shard_id))


def _skippable_frame(payload: bytes, low_nibble: int = 0) -> bytes:
    """An RFC 8878 §3.1.2 skippable frame (magic 0x184D2A50+n) —
    what pzstd's per-chunk index and the seekable format's seek
    table look like on the wire. Decoders must step over it."""
    return (
        bytes([0x50 | (low_nibble & 0xF)])
        + b"\x2a\x4d\x18"
        + len(payload).to_bytes(4, "little")
        + payload
    )


def make_tzst_multiframe_shard(shard_id: int) -> bytes:
    """MULTI-FRAME ``.tar.zst`` (r11 stream shapes): the tar bytes
    split at a shard-dependent point, each half its own RFC 8878
    frame, with a pzstd-style skippable index frame between them —
    the wire shape parallel compressors and ``cat a.zst b.zst``
    produce. Same inner tar, so the oracle is unchanged; the decode
    path must concatenate frames and step over the skippable one."""
    raw = make_tar_shard(shard_id)
    cut = (len(raw) // 2) + (shard_id % 512) - 256
    cut = max(1, min(len(raw) - 1, cut))
    idx = _skippable_frame(
        len(raw).to_bytes(8, "little"), low_nibble=shard_id % 16
    )
    return (
        _zstd_compress(raw[:cut]) + idx + _zstd_compress(raw[cut:])
    )


def make_jzst_seekable_shard(shard_id: int) -> bytes:
    """``.jsonl.zst`` with a TRAILING skippable frame (r11 stream
    shapes — the zstd seekable format appends its seek table as a
    skippable frame after the content frames). Same JSONL content as
    make_jzst_shard, so the oracle is unchanged."""
    body = make_jzst_shard(shard_id)
    table = shard_id.to_bytes(8, "little") + len(body).to_bytes(8, "little")
    return body + _skippable_frame(table, low_nibble=0xE)


def _jsonl_bytes(shard_id: int) -> bytes:
    """The JSONL member encoding shared by every ``.jsonl.zst``
    flavor: one record per line, ``{"data": base64(payload),
    "name": name}``, same member formula as the tar/zip containers
    so all container paths stay equivalence-testable."""
    lines = [
        json.dumps(
            {"data": base64.b64encode(payload).decode(), "name": name},
            sort_keys=True,
            separators=(",", ":"),
        )
        for name, payload in shard_members(shard_id)
    ]
    return ("\n".join(lines) + "\n").encode()


def make_jzst_shard(shard_id: int) -> bytes:
    """zstd-compressed JSONL shard (``.jsonl.zst``, r11 — how text
    corpora like CommonCrawl derivatives actually ship)."""
    return _zstd_compress(_jsonl_bytes(shard_id))


def make_jzst_dict_shard(shard_id: int) -> bytes:
    """DICTIONARY-bearing ``.jsonl.zst`` (r12 — the Common Crawl
    ``.warc.zst`` wire convention): a leading 0x184D2A5D skippable
    frame carries the raw-content dictionary (every second slot
    zstd-compressed, as CC allows), followed by a hand-rolled RFC
    8878 frame whose matches REACH INTO the dictionary — an explicit
    far offset plus a rep0 reuse (sources/zstd.py
    ``build_dict_frame``). Content is the same JSONL bytes, so the
    unchanged member-formula oracle certifies the whole dictionary
    path."""
    from queryengine_spark.sources.zstd import (  # noqa: PLC0415
        build_dict_frame,
    )

    raw = _jsonl_bytes(shard_id)
    k = max(8, min(len(raw) // 2, 800 + shard_id % 256))
    payload = raw[:k]
    if shard_id % 64 == 58:
        payload = _zstd_compress(payload)
    return _skippable_frame(payload, low_nibble=0xD) + build_dict_frame(
        raw, k
    )


def _parse_jsonl_members(raw: bytes) -> list[tuple[str, bytes]] | None:
    """JSONL member walk: every line must be a JSON object carrying
    exactly a string ``name`` and strict-base64 ``data`` — schema
    drift, padding errors, or trailing junk refuse (None, never a
    guessed record)."""
    out: list[tuple[str, bytes]] = []
    for line in raw.split(b"\n"):
        if not line.strip():
            continue
        try:
            rec = json.loads(line)
        except (UnicodeDecodeError, json.JSONDecodeError):
            return None
        if not isinstance(rec, dict) or set(rec) != {"name", "data"}:
            return None
        name, data = rec["name"], rec["data"]
        if not isinstance(name, str) or not isinstance(data, str):
            return None
        try:
            payload = base64.b64decode(data, validate=True)
        except (binascii.Error, ValueError):
            return None
        out.append((name, payload))
    return out if out else None


def _decompress_whole(b: bytes, decomp) -> bytes | None:
    """Run a stdlib one-shot decompressor object strictly: the stream
    must end exactly at the end of input (truncation and trailing
    garbage both refuse — a shard is ONE stream)."""
    try:
        out = decomp.decompress(bytes(b))
    except Exception:
        return None
    if not decomp.eof or decomp.unused_data:
        return None
    return out


def make_archive(shard_id: int) -> tuple[str, bytes]:
    """Even shards split on ``shard % 16`` — 0 → gzip tar (r7),
    2 → plain tar, 4 → bzip2 tar, 6 → xz tar (r9 codecs, flipped
    r10), 8 → zstd tar, 12 → MULTI-FRAME zstd tar with a pzstd-style
    skippable index between frames, 10 → zstd JSONL (r12: the
    % 32 == 26 half is DICTIONARY-bearing — leading 0x184D2A5D
    skippable dict frame, raw or compressed payload by % 64, matches
    reaching into the dictionary), 14 → zstd JSONL with a
    seekable-format trailing skippable frame (r11 stream shapes) —
    odd shards pack as zip. Same member formula throughout, so all
    container paths are directly equivalence-testable."""
    if shard_id % 2 == 1:
        return "zip", make_zip_shard(shard_id)
    if shard_id % 32 == 26:
        return "jzst", make_jzst_dict_shard(shard_id)
    r = shard_id % 16
    if r == 0:
        return "tgz", make_tgz_shard(shard_id)
    if r == 4:
        return "tbz", make_tbz_shard(shard_id)
    if r == 6:
        return "txz", make_txz_shard(shard_id)
    if r == 8:
        return "tzst", make_tzst_shard(shard_id)
    if r == 12:
        return "tzst", make_tzst_multiframe_shard(shard_id)
    if r == 10:
        return "jzst", make_jzst_shard(shard_id)
    if r == 14:
        return "jzst", make_jzst_seekable_shard(shard_id)
    return "tar", make_tar_shard(shard_id)


def parse_archive(b: bytes) -> list[tuple[str, bytes]] | None:
    """Magic-byte dispatch: gzip magic → RFC 1952 unwrap then the
    ustar walk (r7); bzip2 ``BZh`` / xz magics → strict stdlib
    decompression (whole-stream, no trailing bytes — r9) then the
    same walk; zstd magic → the FROM-SCRATCH RFC 8878 frame decoder
    (sources/zstd.py, r11) — a shard may also LEAD with a skippable
    frame (r12: the 0x184D2A5D in-band dictionary convention, or a
    seekable-format prelude), which the stream decoder handles —
    inner content dispatched on ustar magic vs JSONL; ustar magic at
    offset 257; else the ZIP local-header signature. None for
    unrecognized/invalid payloads."""
    from queryengine_spark.sources.zstd import (  # noqa: PLC0415
        ZSTD_MAGIC,
        decompress_zstd,
    )

    if b[:4] == ZSTD_MAGIC or (
        len(b) >= 8 and b[1:4] == b"\x2a\x4d\x18" and 0x50 <= b[0] <= 0x5F
    ):
        inner = decompress_zstd(bytes(b))
        if inner is None:
            return None
        if len(inner) >= 262 and inner[257:262] == b"ustar":
            return _parse_tar(inner)
        return _parse_jsonl_members(inner)
    inner2: bytes | None = None
    if b[:2] == b"\x1f\x8b":
        inner2 = _parse_gzip(bytes(b))
    elif b[:3] == b"BZh":
        inner2 = _decompress_whole(b, bz2.BZ2Decompressor())
    elif b[:6] == b"\xfd7zXZ\x00":
        inner2 = _decompress_whole(b, lzma.LZMADecompressor(lzma.FORMAT_XZ))
    if b[:2] == b"\x1f\x8b" or b[:3] == b"BZh" or b[:6] == b"\xfd7zXZ\x00":
        if inner2 is None or len(inner2) < 262 or inner2[257:262] != b"ustar":
            return None
        return _parse_tar(inner2)
    if len(b) >= 262 and b[257:262] == b"ustar":
        return _parse_tar(b)
    if b[:4] == struct.pack("<I", _ZIP_LOCAL):
        return _parse_zip(b)
    return None


ARCHIVE_SCHEMA = StructType(
    [
        StructField("shard_id", LongType()),
        StructField("fmt", StringType()),
        StructField("payload", BinaryType()),
    ]
)

MEMBER_SCHEMA = StructType(
    [
        StructField("shard_id", LongType()),
        StructField("fmt", StringType()),
        StructField("ordinal", LongType()),
        StructField("name", StringType()),
        StructField("sample_key", StringType()),
        StructField("ext", StringType()),
        StructField("size", LongType()),
        StructField("payload", BinaryType()),
    ]
)

STATS_SCHEMA = StructType(
    [
        StructField("shard_id", LongType()),
        StructField("fmt", StringType()),
        StructField("n_members", LongType()),
        StructField("n_samples", LongType()),
        StructField("total_bytes", LongType()),
        StructField("payload_sum", LongType()),
        StructField("wsum", LongType()),
        StructField("name_hash", LongType()),
    ]
)


def synthesize_archives(ids: DataFrame, id_col: str = "shard_id") -> DataFrame:
    """One archive per input row, built worker-side (map_rows)."""
    return map_rows(ids, ARCHIVE_SCHEMA, lambda sid: [(sid, *make_archive(sid))], id_col)


def _name_hash(name: str) -> int:
    return int(hashlib.md5(name.encode()).hexdigest()[:NAME_HASH_HEX], 16)


def archive_members(shards: DataFrame) -> DataFrame:
    """Fan members out of each shard — the WebDataset sample relation
    downstream joins/decoders consume (sample_key = basename)."""

    def members(sid, fmt, payload):
        # an invalid shard contributes no members
        parsed = parse_archive(payload) if payload is not None else None
        for i, (name, data) in enumerate(parsed or ()):
            stem, _, ext = name.rpartition(".")
            yield sid, fmt, i, name, stem, ext, len(data), data

    return map_rows(shards, MEMBER_SCHEMA, members, "shard_id", "fmt", "payload")


def archive_shard_stats(shards: DataFrame) -> DataFrame:
    """Per-shard member statistics, aggregated INSIDE the parse pass
    (one shard = one input row, so no shuffle is ever needed):
    member/sample counts, total payload bytes, exact payload byte-sum,
    the order-weighted size sum Σ (ordinal+1)·size (certifies member
    ORDER, which tar/zip both define), and a member-name md5 hash sum
    (certifies exact names incl. zero-padding and extensions)."""

    def stats(sid, fmt, payload):
        members = parse_archive(payload) if payload is not None else None
        if members is None:
            return ()
        keys = {n.rpartition(".")[0] for n, _ in members}
        return [
            (
                sid,
                fmt,
                len(members),
                len(keys),
                sum(len(d) for _, d in members),
                sum(sum(d) for _, d in members),
                sum((i + 1) * len(d) for i, (_, d) in enumerate(members)),
                sum(_name_hash(n) for n, _ in members),
            )
        ]

    return map_rows(shards, STATS_SCHEMA, stats, "shard_id", "fmt", "payload")
