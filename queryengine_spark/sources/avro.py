"""From-scratch Avro Object Container File source (r11) — the
standard record-interchange format of data-engineering pipelines
(Kafka archives, ingestion dumps, warehouse exports).

Same correctness story as every source in the repo (archives, WARC,
PDF, the codec matrix): spec-valid OCF shards are SYNTHESIZED from
arithmetic formulas worker-side, parsed back FOR REAL from the
published Avro 1.11 specification — magic ``Obj\\x01``, the file
metadata map, JSON schema resolution, zigzag-varint longs, length-
prefixed strings/bytes, IEEE doubles, records / enums / fixed /
arrays / maps / unions, multi-block bodies with 16-byte sync-marker
validation, and the FULL six-codec matrix (r12) — ``null``,
``deflate`` (raw RFC 1951 via stdlib zlib), ``snappy`` decoded by a
FROM-SCRATCH decompressor with the Avro-specific trailing CRC32,
``bzip2`` / ``xz`` (strict stdlib, whole-block streams), and
``zstandard`` through the repo's own RFC 8878 decoder
(sources/zstd.py) — and the DuckDB oracle recomputes every decoded
value FROM THE FORMULAS.

Reader-schema resolution (r12, spec "Schema Resolution"):
``parse_avro(b, reader_schema=...)`` resolves every record from the
embedded writer schema to the caller's reader schema — field
matching by name or reader ALIASES, reader-only fields taking their
JSON defaults, primitive promotions (int→long→float→double,
string↔bytes), enum default fallback, recursion through
arrays/maps/unions (writer-union branches re-matched by runtime
shape — sound here because every supported branch decodes to a
distinct Python type). Unresolvable schemas refuse the shard. Odd
corpus shards exercise the path end-to-end under the oracle.

Honest refusals (None, never a guessed record):
- unknown codec names;
- schema features outside the supported subset (named-type
  references, recursive schemas, logical types are IGNORED per spec
  but unknown primitive names refuse);
- any structural violation: bad magic, sync-marker mismatch, block
  bytes not exactly consumed by the declared record count, varint
  overflow (>10 bytes), negative lengths, snappy CRC mismatch,
  ragged trailing bytes.

Reference scope note: the reference engine (rickbeeloo/QueryEngine,
src/heurFuzz.py) reads plain text files; container-format ingestion
is part of the LLM-data-pipeline surface this repo adds beyond the
reference.
"""

from __future__ import annotations

import json
import struct
import zlib

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from queryengine_spark.plans import map_rows

AVRO_MAGIC = b"Obj\x01"
#: decode-side sanity cap on declared element/record counts — a few
#: bytes of input must not be able to demand unbounded work
_MAX_ELEMENTS = 10_000_000

# ---------------------------------------------------------------------------
# record formulas — mirrored in the oracle SQL
# (queries/archives.py::SOURCE_AVRO_RECORDS_SQL); keep in sync.
# ---------------------------------------------------------------------------
AVRO_NREC_BASE, AVRO_NREC_MOD = 20, 13  # records/shard: 20..32
AVRO_NAME_BASE, AVRO_NAME_MOD = 4, 9  # name length 4..12
AVRO_KINDS = ("alpha", "beta", "gamma", "delta")
AVRO_BLOCK_RECS = 7  # records per data block (multi-block bodies)


def avro_n_recs(s: int) -> int:
    return AVRO_NREC_BASE + s % AVRO_NREC_MOD


def avro_name(s: int, i: int) -> str:
    n = AVRO_NAME_BASE + (s + 2 * i) % AVRO_NAME_MOD
    return "".join(chr(97 + (3 * s + 5 * i + j) % 26) for j in range(n))


def avro_score_q(s: int, i: int) -> int:
    """score is stored as the exactly-representable double q/16."""
    return (7 * s + 11 * i) % 1000


def avro_payload(s: int, i: int) -> bytes:
    n = 3 + (s + 3 * i) % 14
    return bytes((s + 5 * i + 7 * j) % 256 for j in range(n))


def avro_record(s: int, i: int) -> dict:
    return {
        "rid": s * 1000 + i,
        "name": avro_name(s, i),
        "score": avro_score_q(s, i) / 16.0,
        "flag": (s + i) % 3 == 0,
        "tags": [f"t{(s + i + t) % 10}" for t in range(i % 4)],
        "payload": avro_payload(s, i),
        "opt": None if i % 5 == 0 else (13 * s + i) % 97,
        "kind": AVRO_KINDS[(s + 2 * i) % 4],
        "fp": bytes(
            [(s + i) % 256, (2 * s + i) % 256, (s + 3 * i) % 256,
             (s * i) % 256]
        ),
        "m": {f"k{t}": (s + i * t) % 50 for t in range((s + i) % 3)},
    }


AVRO_SCHEMA = {
    "type": "record",
    "name": "CorpusRec",
    "fields": [
        {"name": "rid", "type": "long"},
        {"name": "name", "type": "string"},
        {"name": "score", "type": "double"},
        {"name": "flag", "type": "boolean"},
        {"name": "tags", "type": {"type": "array", "items": "string"}},
        {"name": "payload", "type": "bytes"},
        {"name": "opt", "type": ["null", "long"]},
        {
            "name": "kind",
            "type": {
                "type": "enum",
                "name": "Kind",
                "symbols": list(AVRO_KINDS),
            },
        },
        {
            "name": "fp",
            "type": {"type": "fixed", "name": "Fp", "size": 4},
        },
        {"name": "m", "type": {"type": "map", "values": "long"}},
    ],
}


# ---------------------------------------------------------------------------
# binary encoding (writer side)
# ---------------------------------------------------------------------------


def _zz_encode(n: int) -> bytes:
    u = (n << 1) ^ (n >> 63) if n < 0 else n << 1
    u &= (1 << 64) - 1
    out = bytearray()
    while True:
        b = u & 0x7F
        u >>= 7
        if u:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _enc_str(s: str) -> bytes:
    b = s.encode("utf-8")
    return _zz_encode(len(b)) + b


def _enc_bytes(b: bytes) -> bytes:
    return _zz_encode(len(b)) + b


def _encode_record(rec: dict) -> bytes:
    out = bytearray()
    out += _zz_encode(rec["rid"])
    out += _enc_str(rec["name"])
    out += struct.pack("<d", rec["score"])
    out += b"\x01" if rec["flag"] else b"\x00"
    tags = rec["tags"]
    if tags:
        out += _zz_encode(len(tags))
        for t in tags:
            out += _enc_str(t)
    out += _zz_encode(0)  # array terminator
    out += _enc_bytes(rec["payload"])
    if rec["opt"] is None:
        out += _zz_encode(0)  # union branch 0 = null
    else:
        out += _zz_encode(1) + _zz_encode(rec["opt"])
    out += _zz_encode(AVRO_KINDS.index(rec["kind"]))
    out += rec["fp"]  # fixed: raw
    m = rec["m"]
    if m:
        out += _zz_encode(len(m))
        for k in sorted(m):
            out += _enc_str(k) + _zz_encode(m[k])
    out += _zz_encode(0)  # map terminator
    return bytes(out)


def _snappy_compress(raw: bytes) -> bytes:
    """Synthesis-side snappy ENCODER: pyarrow's bundled real snappy
    (a public Spark/parquet dependency) — the DECODE side never
    touches it (from-scratch decoder below), mirroring the zstd
    slot's encode/decode split."""
    import pyarrow as pa  # noqa: PLC0415 — synthesis-only dependency

    return bytes(pa.Codec("snappy").compress(raw))


def make_avro_shard(s: int) -> bytes:
    """One OCF shard: header (schema + codec in the metadata map,
    16-byte sync marker), records in blocks of AVRO_BLOCK_RECS, each
    block codec-compressed and sync-terminated. Codec split
    (r12 — the full six-codec matrix of the Avro spec):
    s % 6 == 0 → null, 1 → deflate (raw RFC 1951), 2 → snappy
    (+ big-endian CRC32 of the uncompressed bytes, per the Avro
    spec's snappy codec), 3 → bzip2, 4 → xz, 5 → zstandard
    (decoded by the repo's own RFC 8878 decoder)."""
    import hashlib

    codec = ("null", "deflate", "snappy", "bzip2", "xz", "zstandard")[
        s % 6
    ]
    sync = hashlib.md5(b"avro-sync-%d" % s).digest()
    out = bytearray(AVRO_MAGIC)
    meta = {
        "avro.schema": json.dumps(
            AVRO_SCHEMA, sort_keys=True, separators=(",", ":")
        ).encode(),
        "avro.codec": codec.encode(),
    }
    out += _zz_encode(len(meta))
    for k in sorted(meta):
        out += _enc_str(k) + _enc_bytes(meta[k])
    out += _zz_encode(0)
    out += sync
    n = avro_n_recs(s)
    for start in range(0, n, AVRO_BLOCK_RECS):
        recs = [
            _encode_record(avro_record(s, i))
            for i in range(start, min(start + AVRO_BLOCK_RECS, n))
        ]
        raw = b"".join(recs)
        if codec == "deflate":
            co = zlib.compressobj(6, zlib.DEFLATED, -15)
            data = co.compress(raw) + co.flush()
        elif codec == "snappy":
            data = _snappy_compress(raw) + struct.pack(
                ">I", zlib.crc32(raw) & 0xFFFFFFFF
            )
        elif codec == "bzip2":
            import bz2  # noqa: PLC0415

            data = bz2.compress(raw, 9)
        elif codec == "xz":
            import lzma  # noqa: PLC0415

            data = lzma.compress(raw, format=lzma.FORMAT_XZ)
        elif codec == "zstandard":
            import pyarrow as pa  # noqa: PLC0415 — synthesis-only

            data = bytes(pa.Codec("zstd", compression_level=3).compress(raw))
        else:
            data = raw
        out += _zz_encode(len(recs)) + _zz_encode(len(data)) + data + sync
    return bytes(out)


# ---------------------------------------------------------------------------
# from-scratch snappy decoder (decode side of the snappy codec)
# ---------------------------------------------------------------------------


def snappy_decompress(b: bytes) -> bytes | None:
    """Raw snappy block format (the public format description):
    varint uncompressed length, then literal (tag 0) and copy
    (tags 1-3: 1/2/4-byte little-endian offsets) elements with
    byte-wise overlapping-copy semantics. Strict: the output must
    land exactly on the declared length; bad offsets/lengths refuse."""
    # uncompressed length: unsigned LEB128
    ulen = 0
    shift = 0
    p = 0
    while True:
        if p >= len(b) or shift > 35:
            return None
        c = b[p]
        p += 1
        ulen |= (c & 0x7F) << shift
        if not c & 0x80:
            break
        shift += 7
    if ulen > (1 << 30):
        return None
    out = bytearray()
    while p < len(b):
        tag = b[p]
        p += 1
        t = tag & 3
        if t == 0:  # literal
            ln = (tag >> 2) + 1
            if ln > 60:
                nb = ln - 60
                if p + nb > len(b):
                    return None
                ln = int.from_bytes(b[p : p + nb], "little") + 1
                p += nb
            if p + ln > len(b):
                return None
            out += b[p : p + ln]
            p += ln
            continue
        if t == 1:  # copy, 1-byte offset
            if p >= len(b):
                return None
            ln = ((tag >> 2) & 7) + 4
            off = ((tag >> 5) << 8) | b[p]
            p += 1
        elif t == 2:  # copy, 2-byte offset
            if p + 2 > len(b):
                return None
            ln = (tag >> 2) + 1
            off = int.from_bytes(b[p : p + 2], "little")
            p += 2
        else:  # copy, 4-byte offset
            if p + 4 > len(b):
                return None
            ln = (tag >> 2) + 1
            off = int.from_bytes(b[p : p + 4], "little")
            p += 4
        if off == 0 or off > len(out):
            return None
        if off >= ln:
            start = len(out) - off
            out += out[start : start + ln]
        else:  # overlapping copy: byte-at-a-time semantics
            for _ in range(ln):
                out.append(out[-off])
        if len(out) > ulen:
            return None
    if len(out) != ulen:
        return None
    return bytes(out)


# ---------------------------------------------------------------------------
# reader
# ---------------------------------------------------------------------------


class _Rd:
    __slots__ = ("b", "p")

    def __init__(self, b: bytes, p: int = 0) -> None:
        self.b = b
        self.p = p

    def long(self) -> int:
        u = 0
        shift = 0
        while True:
            if self.p >= len(self.b) or shift > 63:
                raise ValueError("avro: varint overflow/truncation")
            c = self.b[self.p]
            self.p += 1
            u |= (c & 0x7F) << shift
            if not c & 0x80:
                break
            shift += 7
        # a 10-byte varint's final byte sits at shift 63 and may
        # carry up to 7 bits — anything past bit 63 cannot encode a
        # 64-bit Avro long, so a wider accumulator is a refusal,
        # not a silently huge length/rid
        if u >= 1 << 64:
            raise ValueError("avro: varint exceeds 64 bits")
        return (u >> 1) ^ -(u & 1)

    def raw(self, n: int) -> bytes:
        if n < 0 or self.p + n > len(self.b):
            raise ValueError("avro: truncated bytes")
        out = self.b[self.p : self.p + n]
        self.p += n
        return out


def _decode_value(r: _Rd, schema):
    """Decode one value per the (already validated) schema subset."""
    if isinstance(schema, str):
        if schema == "null":
            return None
        if schema == "boolean":
            c = r.raw(1)[0]
            if c > 1:
                raise ValueError("avro: bad boolean")
            return bool(c)
        if schema in ("int", "long"):
            return r.long()
        if schema == "float":
            return struct.unpack("<f", r.raw(4))[0]
        if schema == "double":
            return struct.unpack("<d", r.raw(8))[0]
        if schema == "string":
            return r.raw(r.long()).decode("utf-8")
        if schema == "bytes":
            return r.raw(r.long())
        raise ValueError(f"avro: unsupported type {schema!r}")
    if isinstance(schema, list):  # union
        idx = r.long()
        if not 0 <= idx < len(schema):
            raise ValueError("avro: union branch out of range")
        return _decode_value(r, schema[idx])
    t = schema.get("type")
    if t == "record":
        return {
            f["name"]: _decode_value(r, f["type"])
            for f in schema["fields"]
        }
    if t == "enum":
        idx = r.long()
        syms = schema["symbols"]
        if not 0 <= idx < len(syms):
            raise ValueError("avro: enum index out of range")
        return syms[idx]
    if t == "fixed":
        return r.raw(int(schema["size"]))
    if t in ("array", "map"):
        sub = schema["items"] if t == "array" else schema["values"]
        out = [] if t == "array" else {}
        while True:
            n = r.long()
            if n == 0:
                return out
            if n < 0:  # block with byte size prefix
                n = -n
                r.long()  # block byte size: read and ignore
            # zero-byte element types (null, empty unions) make a
            # huge declared count an unbounded loop on a few input
            # bytes — cap it honestly instead of hanging the task
            if n > _MAX_ELEMENTS or len(out) + n > _MAX_ELEMENTS:
                raise ValueError("avro: block count exceeds cap")
            for _ in range(n):
                if t == "array":
                    out.append(_decode_value(r, sub))
                else:
                    k = r.raw(r.long()).decode("utf-8")
                    out[k] = _decode_value(r, sub)
    raise ValueError(f"avro: unsupported complex type {t!r}")


def _validate_schema(schema, depth: int = 0) -> None:
    """Accept the supported subset; refuse named-type REFERENCES,
    recursion (depth cap), and unknown types up front so decode
    never guesses."""
    if depth > 8:
        raise ValueError("avro: schema too deep")
    if isinstance(schema, str):
        if schema not in (
            "null", "boolean", "int", "long", "float", "double",
            "string", "bytes",
        ):
            raise ValueError(f"avro: unsupported type name {schema!r}")
        return
    if isinstance(schema, list):
        for s in schema:
            _validate_schema(s, depth + 1)
        return
    if not isinstance(schema, dict):
        raise ValueError("avro: bad schema node")
    t = schema.get("type")
    if t == "record":
        fields = schema.get("fields")
        if not isinstance(fields, list) or not fields:
            # a zero-field record consumes no bytes — combined with
            # a large block count that is an unbounded decode loop;
            # refuse the degenerate schema outright
            raise ValueError("avro: record without fields")
        for f in fields:
            if not isinstance(f, dict) or "name" not in f:
                raise ValueError("avro: bad record field")
            _validate_schema(f["type"], depth + 1)
    elif t == "enum":
        syms = schema.get("symbols")
        if not isinstance(syms, list) or not all(
            isinstance(s, str) for s in syms
        ):
            raise ValueError("avro: bad enum symbols")
    elif t == "fixed":
        if not isinstance(schema.get("size"), int) or schema["size"] < 0:
            raise ValueError("avro: bad fixed size")
    elif t == "array":
        _validate_schema(schema.get("items"), depth + 1)
    elif t == "map":
        _validate_schema(schema.get("values"), depth + 1)
    else:
        raise ValueError(f"avro: unsupported complex type {t!r}")


# ---------------------------------------------------------------------------
# reader-schema resolution (r12) — Avro spec "Schema Resolution"
# ---------------------------------------------------------------------------

#: allowed primitive promotions (writer → reader)
_PROMOTIONS = {
    ("int", "long"), ("int", "float"), ("int", "double"),
    ("long", "float"), ("long", "double"), ("float", "double"),
}


def _json_default(dflt, schema):
    """A reader field's JSON default → runtime value per the reader
    type (bytes/fixed defaults are JSON strings of codepoints < 256,
    per spec; a union's default is for its FIRST branch)."""
    if isinstance(schema, list):  # union default is for the FIRST branch
        return _json_default(dflt, schema[0])
    if isinstance(schema, str):
        if schema == "null":
            if dflt is not None:
                raise ValueError("avro: bad null default")
            return None
        if schema == "boolean":
            if not isinstance(dflt, bool):
                raise ValueError("avro: bad boolean default")
            return dflt
        if schema in ("int", "long"):
            if not isinstance(dflt, int) or isinstance(dflt, bool):
                raise ValueError("avro: bad int default")
            return dflt
        if schema in ("float", "double"):
            if not isinstance(dflt, (int, float)) or isinstance(dflt, bool):
                raise ValueError("avro: bad float default")
            return float(dflt)
        if schema == "string":
            if not isinstance(dflt, str):
                raise ValueError("avro: bad string default")
            return dflt
        if schema == "bytes":
            if not isinstance(dflt, str):
                raise ValueError("avro: bad bytes default")
            return dflt.encode("latin-1")
        raise ValueError("avro: unsupported default type")
    t = schema.get("type")
    if t == "enum":
        if dflt not in schema.get("symbols", ()):
            raise ValueError("avro: bad enum default")
        return dflt
    if t == "fixed":
        if not isinstance(dflt, str):
            raise ValueError("avro: bad fixed default")
        b = dflt.encode("latin-1")
        if len(b) != int(schema["size"]):
            raise ValueError("avro: fixed default size mismatch")
        return b
    if t == "array":
        if not isinstance(dflt, list):
            raise ValueError("avro: bad array default")
        return [_json_default(x, schema["items"]) for x in dflt]
    if t == "map":
        if not isinstance(dflt, dict):
            raise ValueError("avro: bad map default")
        return {k: _json_default(v, schema["values"]) for k, v in dflt.items()}
    if t == "record":
        if not isinstance(dflt, dict):
            raise ValueError("avro: bad record default")
        out = {}
        for f in schema["fields"]:
            if f["name"] in dflt:
                out[f["name"]] = _json_default(dflt[f["name"]], f["type"])
            elif "default" in f:
                out[f["name"]] = _json_default(f["default"], f["type"])
            else:
                raise ValueError("avro: incomplete record default")
        return out
    raise ValueError("avro: unsupported default type")


def _adapt_dynamic(v, r):
    """Adapt a WRITER-UNION value (branch lost after decode) to the
    reader schema by runtime type — sound for the supported subset
    because every union branch decodes to a distinct Python shape."""
    if isinstance(r, list):
        for br in r:
            try:
                return _adapt_dynamic(v, br)
            except ValueError:
                continue
        raise ValueError("avro: union value fits no reader branch")
    if v is None:
        if r == "null":
            return None
        raise ValueError("avro: null into non-null reader")
    if isinstance(v, bool):
        if r == "boolean":
            return v
        raise ValueError("avro: bool mismatch")
    if isinstance(v, int):
        if r in ("int", "long"):
            return v
        if r in ("float", "double"):
            return float(v)
        raise ValueError("avro: int mismatch")
    if isinstance(v, float):
        if r in ("float", "double"):
            return v
        raise ValueError("avro: float mismatch")
    if isinstance(v, str):
        if r == "string":
            return v
        if r == "bytes":
            return v.encode("utf-8")
        if isinstance(r, dict) and r.get("type") == "enum":
            return _adapt(v, r, r)
        raise ValueError("avro: str mismatch")
    if isinstance(v, bytes):
        if r == "bytes":
            return v
        if r == "string":
            return v.decode("utf-8")
        if isinstance(r, dict) and r.get("type") == "fixed":
            if len(v) != int(r["size"]):
                raise ValueError("avro: fixed size mismatch")
            return v
        raise ValueError("avro: bytes mismatch")
    raise ValueError("avro: complex union branches unsupported")


def _adapt(v, w, r):
    """Adapt one decoded value from the writer schema ``w`` to the
    reader schema ``r`` (spec Schema Resolution): primitive
    promotions, string↔bytes, record field matching by name or
    reader ALIASES with reader-only fields taking their defaults,
    enum fallback to the reader's default symbol, recursion through
    arrays/maps/unions. Raises ValueError when the schemas cannot
    resolve (the caller refuses)."""
    if w == r:
        return v
    if isinstance(w, list):
        return _adapt_dynamic(v, r)
    if isinstance(r, list):
        for br in r:
            try:
                return _adapt(v, w, br)
            except ValueError:
                continue
        raise ValueError("avro: no matching reader union branch")
    if isinstance(w, str) and isinstance(r, str):
        if (w, r) in _PROMOTIONS:
            return float(v) if r in ("float", "double") else v
        if w == "string" and r == "bytes":
            return v.encode("utf-8")
        if w == "bytes" and r == "string":
            return v.decode("utf-8")
        raise ValueError(f"avro: cannot promote {w!r} to {r!r}")
    if not (isinstance(w, dict) and isinstance(r, dict)):
        raise ValueError("avro: schema shape mismatch")
    tw, tr = w.get("type"), r.get("type")
    if tw == tr == "record":
        out = {}
        for rf in r["fields"]:
            names = {rf["name"], *rf.get("aliases", ())}
            wf = next(
                (f for f in w["fields"] if f["name"] in names), None
            )
            if wf is not None:
                out[rf["name"]] = _adapt(v[wf["name"]], wf["type"], rf["type"])
            elif "default" in rf:
                out[rf["name"]] = _json_default(rf["default"], rf["type"])
            else:
                raise ValueError(
                    f"avro: reader field {rf['name']!r} has no writer "
                    "field and no default"
                )
        return out
    if tw == tr == "enum":
        if v in r["symbols"]:
            return v
        if "default" in r:
            return r["default"]
        raise ValueError("avro: enum symbol not in reader")
    if tw == tr == "fixed":
        if int(w["size"]) != int(r["size"]):
            raise ValueError("avro: fixed size mismatch")
        return v
    if tw == tr == "array":
        return [_adapt(x, w["items"], r["items"]) for x in v]
    if tw == tr == "map":
        return {
            k: _adapt(x, w["values"], r["values"]) for k, x in v.items()
        }
    raise ValueError("avro: unresolvable schemas")


def parse_avro(b: bytes, reader_schema=None) -> list[dict] | None:
    """OCF bytes → list of decoded records, or None (refusals per
    the module docstring). With ``reader_schema`` (r12), every
    record is RESOLVED from the embedded writer schema to the reader
    schema per the spec's Schema Resolution rules — unresolvable
    schemas refuse the shard."""
    try:
        recs = _parse_avro_strict(bytes(b))
        if recs is None or reader_schema is None:
            return recs
        meta_schema = _writer_schema(bytes(b))
        _validate_schema(reader_schema)
        return [_adapt(rec, meta_schema, reader_schema) for rec in recs]
    except (ValueError, KeyError, IndexError, TypeError,
            UnicodeDecodeError, struct.error, zlib.error,
            json.JSONDecodeError):
        return None


def _writer_schema(b: bytes):
    """Re-read just the embedded writer schema from the header."""
    r = _Rd(b, 4)
    meta: dict[str, bytes] = {}
    while True:
        n = r.long()
        if n == 0:
            break
        if n < 0:
            n = -n
            r.long()
        for _ in range(n):
            k = r.raw(r.long()).decode("utf-8")
            meta[k] = r.raw(r.long())
    return json.loads(meta["avro.schema"])


def _parse_avro_strict(b: bytes) -> list[dict] | None:
    if b[:4] != AVRO_MAGIC:
        return None
    r = _Rd(b, 4)
    meta: dict[str, bytes] = {}
    while True:
        n = r.long()
        if n == 0:
            break
        if n < 0:
            n = -n
            r.long()
        for _ in range(n):
            k = r.raw(r.long()).decode("utf-8")
            meta[k] = r.raw(r.long())
    if "avro.schema" not in meta:
        return None
    schema = json.loads(meta["avro.schema"])
    _validate_schema(schema)
    codec = meta.get("avro.codec", b"null").decode("utf-8")
    if codec not in (
        "null", "deflate", "snappy", "bzip2", "xz", "zstandard"
    ):
        return None  # unknown codec names: out of contract
    sync = r.raw(16)
    out: list[dict] = []
    while r.p < len(b):
        count = r.long()
        size = r.long()
        if count <= 0 or size < 0 or count > _MAX_ELEMENTS:
            return None
        data = r.raw(size)
        if r.raw(16) != sync:
            return None  # sync-marker mismatch
        if codec == "deflate":
            d = zlib.decompressobj(-15)
            try:
                data = d.decompress(data) + d.flush()
            except zlib.error:
                return None
            # junk after the deflate end-of-stream lands in
            # unused_data (unconsumed_tail only fills under a
            # max_length call); an unterminated stream leaves
            # eof False — both violate the declared block range
            if not d.eof or d.unused_data:
                return None
        elif codec == "snappy":
            if len(data) < 4:
                return None
            want_crc = struct.unpack(">I", data[-4:])[0]
            raw = snappy_decompress(data[:-4])
            if raw is None or (zlib.crc32(raw) & 0xFFFFFFFF) != want_crc:
                return None
            data = raw
        elif codec == "bzip2":
            # r12 codec matrix: stdlib strict (whole-block stream,
            # no trailing bytes), same dispensation as deflate
            import bz2  # noqa: PLC0415

            d2 = bz2.BZ2Decompressor()
            try:
                raw = d2.decompress(data)
            except OSError:
                return None
            if not d2.eof or d2.unused_data:
                return None
            data = raw
        elif codec == "xz":
            import lzma  # noqa: PLC0415

            d3 = lzma.LZMADecompressor(lzma.FORMAT_XZ)
            try:
                raw = d3.decompress(data)
            except lzma.LZMAError:
                return None
            if not d3.eof or d3.unused_data:
                return None
            data = raw
        elif codec == "zstandard":
            # the repo's own RFC 8878 decoder (r11) — the Avro
            # zstandard codec is plain frames, no extra CRC
            from queryengine_spark.sources.zstd import (  # noqa: PLC0415
                decompress_zstd,
            )

            raw = decompress_zstd(data)
            if raw is None:
                return None
            data = raw
        br = _Rd(data, 0)
        for _ in range(count):
            out.append(_decode_value(br, schema))
        if br.p != len(data):
            return None  # block bytes not exactly consumed
    return out


# ---------------------------------------------------------------------------
# Spark plumbing
# ---------------------------------------------------------------------------

AVRO_ASSET_SCHEMA = StructType(
    [
        StructField("shard_id", LongType(), False),
        StructField("payload", BinaryType(), True),
    ]
)

AVRO_REC_SCHEMA = StructType(
    [
        StructField("shard_id", LongType()),
        StructField("rec_idx", IntegerType()),
        StructField("rid", LongType()),
        StructField("name_len", IntegerType()),
        StructField("name_sum", LongType()),
        StructField("score_q", LongType()),
        StructField("flag", IntegerType()),
        StructField("n_tags", IntegerType()),
        StructField("tags_sum", LongType()),
        StructField("payload_len", IntegerType()),
        StructField("payload_sum", LongType()),
        StructField("opt", LongType(), True),
        StructField("kind_idx", IntegerType()),
        StructField("fp_sum", LongType()),
        StructField("map_n", IntegerType()),
        StructField("map_sum", LongType()),
        StructField("extra", IntegerType()),
    ]
)


def _reader_schema() -> dict:
    """The resolution-exercising READER schema applied to odd shards
    (r12): renames ``name`` → ``title`` via an alias, promotes
    ``rid`` long → double (exactly representable at corpus
    magnitudes), and adds a reader-only ``extra`` int with default
    7 — so the oracle certifies alias matching, promotion, and
    default injection, not just pass-through."""
    import copy

    r = copy.deepcopy(AVRO_SCHEMA)
    f = next(x for x in r["fields"] if x["name"] == "name")
    f["name"] = "title"
    f["aliases"] = ["name"]
    next(x for x in r["fields"] if x["name"] == "rid")["type"] = "double"
    r["fields"].append({"name": "extra", "type": "int", "default": 7})
    return r


AVRO_READER_SCHEMA = _reader_schema()


def synthesize_avro(ids: DataFrame, id_col: str = "shard_id") -> DataFrame:
    """One OCF shard per input row, built worker-side (map_rows),
    cycling the null / deflate / snappy codecs by shard id."""
    return map_rows(ids, AVRO_ASSET_SCHEMA, lambda a: [(a, make_avro_shard(a))], id_col)


def avro_records(assets: DataFrame) -> DataFrame:
    """Parse each shard and emit one row per decoded record with
    exact integer projections of every field (the double comes back
    as score*16 — exactly representable, so the BIGINT is lossless):
    certifies varints, strings, doubles, booleans, arrays, bytes,
    unions, enums, fixed, maps, ALL SIX codecs (r12: + bzip2, xz,
    and zstandard via the repo's own RFC 8878 decoder), and the
    sync/block walk against the formula oracle. ODD shards decode
    through AVRO_READER_SCHEMA (r12) — alias rename, long→double
    promotion, and a defaulted reader-only ``extra`` field (−1 on
    even shards) — so spec Schema Resolution is oracle-certified
    too. Row-linear map_rows, zero shuffle."""

    def records(sid, payload):
        if payload is None:
            return ()
        resolved = sid % 2 == 1
        recs = parse_avro(payload, reader_schema=AVRO_READER_SCHEMA if resolved else None)
        if recs is None:
            return ()
        # a structurally valid OCF with a DIFFERENT schema
        # parses fine but breaks these projections — treat
        # the shape mismatch as a per-shard refusal (skip,
        # no partial rows) instead of failing the task
        rows = []
        try:
            for i, rec in enumerate(recs):
                name = rec["title" if resolved else "name"].encode()
                rows.append(
                    (
                        sid,
                        i,
                        int(rec["rid"]),
                        len(name),
                        sum(name),
                        int(rec["score"] * 16),
                        int(rec["flag"]),
                        len(rec["tags"]),
                        sum(sum(t.encode()) for t in rec["tags"]),
                        len(rec["payload"]),
                        sum(rec["payload"]),
                        rec["opt"],
                        AVRO_KINDS.index(rec["kind"]),
                        sum(rec["fp"]),
                        len(rec["m"]),
                        sum(rec["m"].values()),
                        rec.get("extra", -1),
                    )
                )
        except (KeyError, ValueError, TypeError, AttributeError):
            return ()
        return rows

    return map_rows(assets, AVRO_REC_SCHEMA, records, "shard_id", "payload")
