"""From-scratch TFRecord / tf.Example source (r11) — the TensorFlow
training-data container that a large share of published ML corpora
ship in.

Same correctness story as every source in the repo: spec-valid
shards are SYNTHESIZED from arithmetic formulas and parsed back FOR
REAL from the published formats —

- TFRecord framing (the TensorFlow record format): per record, an
  8-byte little-endian length, the masked CRC32C of those length
  bytes, the payload, and the masked CRC32C of the payload. CRC32C
  (Castagnoli) is implemented from scratch (reflected polynomial
  0x82F63B78) and pinned against the published check value; the
  mask is ``((crc >> 15) | (crc << 17)) + 0xa282ead8``.
- protobuf WIRE FORMAT (the public encoding spec): varint keys
  (field << 3 | wire type), wire types 0 (varint) / 1 (64-bit) /
  2 (length-delimited) / 5 (32-bit), with unknown fields SKIPPED
  per spec (a hand vector pins that).
- the tf.Example message shape: Example{features=1} →
  Features{feature=1 map<string,Feature>} → Feature{bytes_list=1,
  float_list=2, int64_list=3} with packed float32 / varint-int64
  value lists.
- the tf.SequenceExample shape (r12):
  SequenceExample{context=1 Features, feature_lists=2} →
  FeatureLists{feature_list=1 map<string,FeatureList>} →
  FeatureList{feature=1 repeated Feature} — multi-entry lists
  exercised in the corpus (shards ≡ 2 mod 4), same formula values
  as the Example shards so one oracle certifies both wire shapes.

Odd shards ship ``.tfrecord.gz`` (whole-stream gzip via stdlib,
strict end-of-stream check, inflate bounded at 128 MiB). The DuckDB
oracle recomputes every decoded value FROM THE FORMULAS.

Honest refusals (None, never a guessed record):
- any framing CRC mismatch, truncated frame, or trailing bytes;
- wrong wire type on a KNOWN field, varint overflow (>10 bytes),
  length-delimited fields running past their parent, duplicate
  oneof branches in a Feature;
- gzip shards with trailing garbage or truncation.

No protobuf library exists in this environment (the
transformWithStateInPandas refusal documents that), so both sides
of the wire format are this module — bounded by hand vectors for
the varint/tag/packed encodings and the published CRC32C check
value, the same self-consistency boundary the PDF crypto module
documents.

Reference scope note: the reference engine (rickbeeloo/QueryEngine,
src/heurFuzz.py) reads plain text files; ML-container ingestion is
part of the LLM-data-pipeline surface this repo adds beyond the
reference.
"""

from __future__ import annotations

import gzip
import struct
import zlib
from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from queryengine_spark.plans import map_rows

#: per-shard inflate ceiling (gzip-bomb posture — a shard that
#: expands past this refuses BEFORE the bytes materialize; matches
#: the bounded-work stance of zstd.MAX_CONTENT / avro._MAX_ELEMENTS)
_MAX_INFLATE = 1 << 27  # 128 MiB

# ---------------------------------------------------------------------------
# record formulas — mirrored in the oracle SQL
# (queries/archives.py::SOURCE_TFRECORD_SQL); keep in sync.
# ---------------------------------------------------------------------------
TFR_NREC_BASE, TFR_NREC_MOD = 12, 9  # records/shard: 12..20
TFR_TXT_BASE, TFR_TXT_MOD = 4, 10  # text length 4..13


def tfr_n_recs(s: int) -> int:
    return TFR_NREC_BASE + s % TFR_NREC_MOD


def tfr_toks(s: int, i: int) -> list[int]:
    n = 1 + (s + i) % 5
    out = [(3 * s + 5 * i + 7 * t) % 1000 for t in range(n)]
    if i % 6 == 2:
        out[0] = -out[0] - 1  # negative int64: the 10-byte varint path
    return out


def tfr_txt(s: int, i: int) -> bytes:
    n = TFR_TXT_BASE + (s + 2 * i) % TFR_TXT_MOD
    return bytes(97 + (s + 3 * i + j) % 26 for j in range(n))


def tfr_w_q(s: int, i: int) -> int:
    """w is stored as the float32-exact q/8."""
    return (11 * s + 13 * i) % 500


# ---------------------------------------------------------------------------
# CRC32C (Castagnoli), from scratch — pinned against the published
# check value crc32c(b"123456789") == 0xE3069283 in tests.
# ---------------------------------------------------------------------------

_CRC32C_TABLE = []
for _n in range(256):
    _c = _n
    for _ in range(8):
        _c = (_c >> 1) ^ 0x82F63B78 if _c & 1 else _c >> 1
    _CRC32C_TABLE.append(_c)


def crc32c(data: bytes) -> int:
    c = 0xFFFFFFFF
    for b in data:
        c = (c >> 8) ^ _CRC32C_TABLE[(c ^ b) & 0xFF]
    return c ^ 0xFFFFFFFF


def masked_crc32c(data: bytes) -> int:
    c = crc32c(data)
    return (((c >> 15) | (c << 17)) + 0xA282EAD8) & 0xFFFFFFFF


# ---------------------------------------------------------------------------
# protobuf wire-format encode (synthesis side)
# ---------------------------------------------------------------------------


def _pb_varint(v: int) -> bytes:
    v &= (1 << 64) - 1  # two's complement for negatives
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _pb_len(field: int, payload: bytes) -> bytes:
    return _pb_varint((field << 3) | 2) + _pb_varint(len(payload)) + payload


def _feature_int64(vals: list[int]) -> bytes:
    packed = b"".join(_pb_varint(v) for v in vals)
    return _pb_len(3, _pb_len(1, packed))  # Int64List in Feature.f3


def _feature_float(vals: list[float]) -> bytes:
    packed = b"".join(struct.pack("<f", v) for v in vals)
    return _pb_len(2, _pb_len(1, packed))  # FloatList in Feature.f2


def _feature_bytes(vals: list[bytes]) -> bytes:
    body = b"".join(_pb_varint(1 << 3 | 2) + _pb_varint(len(v)) + v for v in vals)
    return _pb_len(1, body)  # BytesList in Feature.f1


def make_example(s: int, i: int) -> bytes:
    """One serialized tf.Example from the formulas."""
    feats = b""
    for key, feat in (
        (b"rid", _feature_int64([s * 1000 + i])),
        (b"toks", _feature_int64(tfr_toks(s, i))),
        (b"txt", _feature_bytes([tfr_txt(s, i)])),
        (b"w", _feature_float([tfr_w_q(s, i) / 8.0])),
    ):
        entry = _pb_len(1, key) + _pb_len(2, feat)
        feats += _pb_len(1, entry)  # Features.feature map entry
    return _pb_len(1, feats)  # Example.features


def make_sequence_example(s: int, i: int) -> bytes:
    """One serialized tf.SequenceExample carrying the SAME formula
    values as make_example (r12): rid and w in the context, the
    token list split into ≤3-value Features of a ``toks``
    FeatureList (multi-entry lists exercised), the text as a
    single-entry ``txt`` FeatureList — so the shared oracle
    certifies the second wire shape unchanged."""
    ctx = b""
    for key, feat in (
        (b"rid", _feature_int64([s * 1000 + i])),
        (b"w", _feature_float([tfr_w_q(s, i) / 8.0])),
    ):
        entry = _pb_len(1, key) + _pb_len(2, feat)
        ctx += _pb_len(1, entry)
    toks = tfr_toks(s, i)
    fl = b"".join(
        _pb_len(1, _feature_int64(toks[j : j + 3]))
        for j in range(0, len(toks), 3)
    )
    fl_entries = _pb_len(1, _pb_len(1, b"toks") + _pb_len(2, fl))
    flt = _pb_len(1, _feature_bytes([tfr_txt(s, i)]))
    fl_entries += _pb_len(1, _pb_len(1, b"txt") + _pb_len(2, flt))
    return _pb_len(1, ctx) + _pb_len(2, fl_entries)


def make_tfrecord_shard(s: int) -> bytes:
    """One TFRecord shard: framed tf.Examples; odd shards ship
    whole-stream gzip (.tfrecord.gz); shards ≡ 2 (mod 4) frame
    SequenceExamples instead (r12), same formula values."""
    seq = s % 4 == 2
    out = bytearray()
    for i in range(tfr_n_recs(s)):
        data = (
            make_sequence_example(s, i) if seq else make_example(s, i)
        )
        ln = struct.pack("<Q", len(data))
        out += ln
        out += struct.pack("<I", masked_crc32c(ln))
        out += data
        out += struct.pack("<I", masked_crc32c(data))
    raw = bytes(out)
    if s % 2 == 1:
        return gzip.compress(raw, 6)
    return raw


# ---------------------------------------------------------------------------
# decode side
# ---------------------------------------------------------------------------


def _pb_read_varint(b: bytes, p: int) -> tuple[int, int]:
    v = 0
    shift = 0
    for k in range(10):
        if p + k >= len(b):
            raise ValueError("pb: truncated varint")
        c = b[p + k]
        v |= (c & 0x7F) << shift
        if not c & 0x80:
            return v, p + k + 1
        shift += 7
    raise ValueError("pb: varint overflow")


def _pb_fields(b: bytes) -> Iterator[tuple[int, int, bytes | int]]:
    """Walk one message's wire fields → (field, wire_type, value):
    LEN fields yield their bytes, varints the int, 32/64-bit the raw
    bytes. Unknown fields are the CALLER's business (spec: skip)."""
    p = 0
    while p < len(b):
        key, p = _pb_read_varint(b, p)
        field, wt = key >> 3, key & 7
        if wt == 0:
            v, p = _pb_read_varint(b, p)
            yield field, wt, v
        elif wt == 2:
            ln, p = _pb_read_varint(b, p)
            if p + ln > len(b):
                raise ValueError("pb: length field past parent")
            yield field, wt, b[p : p + ln]
            p += ln
        elif wt == 5:
            if p + 4 > len(b):
                raise ValueError("pb: truncated 32-bit field")
            yield field, wt, b[p : p + 4]
            p += 4
        elif wt == 1:
            if p + 8 > len(b):
                raise ValueError("pb: truncated 64-bit field")
            yield field, wt, b[p : p + 8]
            p += 8
        else:
            raise ValueError(f"pb: unsupported wire type {wt}")


def _signed64(v: int) -> int:
    return v - (1 << 64) if v >> 63 else v


def _decode_feature(b: bytes):
    """Feature → ('int64'|'float'|'bytes', values). Duplicate oneof
    branches refuse."""
    kind = None
    vals = None
    for field, wt, v in _pb_fields(b):
        if field in (1, 2, 3):
            if wt != 2:
                raise ValueError("pb: Feature list must be LEN")
            if kind is not None:
                raise ValueError("pb: duplicate Feature oneof")
            if field == 3:  # Int64List: packed varints in f1
                kind, vals = "int64", []
                for f2, wt2, v2 in _pb_fields(v):
                    if f2 == 1 and wt2 == 2:
                        p = 0
                        while p < len(v2):
                            x, p = _pb_read_varint(v2, p)
                            vals.append(_signed64(x))
                    elif f2 == 1 and wt2 == 0:
                        vals.append(_signed64(v2))  # unpacked form
                    # unknown subfields: skip per spec
            elif field == 2:  # FloatList: packed float32 in f1
                kind, vals = "float", []
                for f2, wt2, v2 in _pb_fields(v):
                    if f2 == 1 and wt2 == 2:
                        if len(v2) % 4:
                            raise ValueError("pb: ragged packed floats")
                        vals.extend(
                            struct.unpack(f"<{len(v2) // 4}f", v2)
                        )
                    elif f2 == 1 and wt2 == 5:
                        vals.append(struct.unpack("<f", v2)[0])
            else:  # BytesList: repeated bytes in f1
                kind, vals = "bytes", []
                for f2, wt2, v2 in _pb_fields(v):
                    if f2 == 1:
                        if wt2 != 2:
                            raise ValueError("pb: bytes value not LEN")
                        vals.append(v2)
        # unknown Feature fields: skip per spec
    if kind is None:
        raise ValueError("pb: empty Feature")
    return kind, vals


def _parse_features_into(v: bytes, feats: dict) -> None:
    """Walk one Features message (the feature map) into ``feats``."""
    for f2, wt2, entry in _pb_fields(v):
        if f2 != 1:
            continue
        if wt2 != 2:
            raise ValueError("pb: map entry must be LEN")
        key = None
        feat = None
        for f3, wt3, v3 in _pb_fields(entry):
            if f3 == 1 and wt3 == 2:
                key = v3.decode("utf-8")
            elif f3 == 2 and wt3 == 2:
                feat = v3
        if key is None or feat is None:
            raise ValueError("pb: incomplete map entry")
        feats[key] = _decode_feature(feat)


def parse_example(b: bytes) -> dict | None:
    """One serialized tf.Example → {name: (kind, values)}, or None."""
    try:
        feats: dict = {}
        for field, wt, v in _pb_fields(b):
            if field != 1:
                continue  # unknown Example fields: skip per spec
            if wt != 2:
                raise ValueError("pb: Example.features must be LEN")
            _parse_features_into(v, feats)
        return feats
    except (ValueError, UnicodeDecodeError, struct.error):
        return None


def parse_sequence_example(b: bytes) -> dict | None:
    """One serialized tf.SequenceExample (r12 — the second tf wire
    shape in real corpora: Features ``context`` in field 1,
    FeatureLists in field 2, each list a repeated Feature) →
    ``{"context": {name: (kind, values)},
       "lists": {name: [(kind, values), ...]}}``, or None."""
    try:
        ctx: dict = {}
        lists: dict = {}
        for field, wt, v in _pb_fields(b):
            if field == 1:  # context: Features
                if wt != 2:
                    raise ValueError("pb: context must be LEN")
                _parse_features_into(v, ctx)
            elif field == 2:  # FeatureLists
                if wt != 2:
                    raise ValueError("pb: feature_lists must be LEN")
                for f2, wt2, entry in _pb_fields(v):
                    if f2 != 1:
                        continue
                    if wt2 != 2:
                        raise ValueError("pb: list entry must be LEN")
                    key = None
                    fl = None
                    for f3, wt3, v3 in _pb_fields(entry):
                        if f3 == 1 and wt3 == 2:
                            key = v3.decode("utf-8")
                        elif f3 == 2 and wt3 == 2:
                            fl = v3
                    if key is None or fl is None:
                        raise ValueError("pb: incomplete list entry")
                    feats = []
                    for f4, wt4, v4 in _pb_fields(fl):
                        if f4 != 1:
                            continue  # unknown FeatureList fields: skip
                        if wt4 != 2:
                            raise ValueError("pb: list Feature not LEN")
                        feats.append(_decode_feature(v4))
                    lists[key] = feats
            # unknown SequenceExample fields: skip per spec
        return {"context": ctx, "lists": lists}
    except (ValueError, UnicodeDecodeError, struct.error):
        return None


def parse_tfrecord(b: bytes, record_parser=parse_example) -> list[dict] | None:
    """Shard bytes → list of decoded records, or None. A gzip magic
    inflates the whole stream first (strict end + no trailing
    garbage); framing CRCs must verify and the buffer must end
    exactly on a record boundary. ``record_parser`` selects the
    message shape (tf.Example by default; pass
    parse_sequence_example for SequenceExample shards — the wire
    cannot distinguish them, exactly as in TensorFlow, where the
    reader's schema decides)."""
    b = bytes(b)
    if b[:2] == b"\x1f\x8b":
        d = zlib.decompressobj(16 + zlib.MAX_WBITS)
        try:
            # bound the inflate (gzip-bomb posture, same as the
            # zstd MAX_CONTENT / avro _MAX_ELEMENTS caps): if the
            # cap is hit, input remains in unconsumed_tail — refuse
            # before the expansion ever reaches executor memory
            raw = d.decompress(b, _MAX_INFLATE)
        except zlib.error:
            return None
        if d.unconsumed_tail:
            return None
        if not d.eof or d.unused_data:
            return None
        b = raw
    out: list[dict] = []
    p = 0
    while p < len(b):
        if p + 12 > len(b):
            return None
        ln = struct.unpack_from("<Q", b, p)[0]
        (want_lc,) = struct.unpack_from("<I", b, p + 8)
        if masked_crc32c(b[p : p + 8]) != want_lc:
            return None
        p += 12
        if ln > (1 << 30) or p + ln + 4 > len(b):
            return None
        data = b[p : p + ln]
        p += ln
        (want_dc,) = struct.unpack_from("<I", b, p)
        p += 4
        if masked_crc32c(data) != want_dc:
            return None
        ex = record_parser(data)
        if ex is None:
            return None
        out.append(ex)
    return out


# ---------------------------------------------------------------------------
# Spark plumbing
# ---------------------------------------------------------------------------

TFR_ASSET_SCHEMA = StructType(
    [
        StructField("shard_id", LongType(), False),
        StructField("payload", BinaryType(), True),
    ]
)

TFR_REC_SCHEMA = StructType(
    [
        StructField("shard_id", LongType()),
        StructField("rec_idx", IntegerType()),
        StructField("rid", LongType()),
        StructField("n_toks", IntegerType()),
        StructField("toks_sum", LongType()),
        StructField("txt_len", IntegerType()),
        StructField("txt_sum", LongType()),
        StructField("w_q", LongType()),
    ]
)


def synthesize_tfrecord(ids: DataFrame, id_col: str = "shard_id") -> DataFrame:
    """One TFRecord shard per input row (map_rows); odd shards
    gzip-compressed."""
    return map_rows(ids, TFR_ASSET_SCHEMA, lambda a: [(a, make_tfrecord_shard(a))], id_col)


def tfrecord_examples(assets: DataFrame) -> DataFrame:
    """Parse each shard and emit one row per tf.Example with exact
    integer projections (the float32 comes back as w*8 — exactly
    representable): certifies the CRC32C framing, the wire-format
    walk, the packed int64/float32 lists, negative-varint decode,
    and both compression flavors against the formula oracle.
    Row-linear map_rows, zero shuffle."""

    def examples(sid, payload):
        if payload is None:
            return ()
        is_seq = sid % 4 == 2
        recs = parse_tfrecord(
            payload, record_parser=parse_sequence_example if is_seq else parse_example
        )
        if recs is None:
            return ()
        # a valid TFRecord stream whose Examples carry a
        # DIFFERENT feature set parses fine but breaks these
        # projections — skip the shard like a parse refusal
        # (no partial rows) rather than failing the task
        rows = []
        try:
            for i, ex in enumerate(recs):
                if is_seq:
                    rid = ex["context"]["rid"][1][0]
                    toks = [v for f in ex["lists"]["toks"] for v in f[1]]
                    txt = ex["lists"]["txt"][0][1][0]
                    w = ex["context"]["w"][1][0]
                else:
                    rid = ex["rid"][1][0]
                    toks = ex["toks"][1]
                    txt = ex["txt"][1][0]
                    w = ex["w"][1][0]
                rows.append(
                    (sid, i, rid, len(toks), sum(toks), len(txt), sum(txt), int(round(w * 8)))
                )
        except (KeyError, ValueError, TypeError, IndexError):
            return ()
        return rows

    return map_rows(assets, TFR_REC_SCHEMA, examples, "shard_id", "payload")
