"""Archive shard source (sources/archives.py): hand-built byte
vectors pin the ustar and zip walks independently of the synthesis
helpers (so an encoder/decoder bug pair can't cancel), refusal probes
cover the structural checks, and the Spark plumbing is verified
end-to-end against a pure-Python reference.
"""

from __future__ import annotations

import struct
import zlib

from pyspark.sql import functions as F

from queryengine_spark.sources.archives import (
    MEMBER_SCHEMA,
    STATS_SCHEMA,
    _tar_header,
    archive_members,
    archive_shard_stats,
    make_archive,
    make_tar_shard,
    make_zip_shard,
    member_payload,
    member_sizes,
    parse_archive,
    shard_members,
    shard_samples,
    synthesize_archives,
)

# ---------------------------------------------------------------------------
# hand-built tar vectors (never touching make_tar_shard)
# ---------------------------------------------------------------------------


def _hand_tar(entries, end_marker=True):
    out = bytearray()
    for name, payload, typeflag in entries:
        out += _tar_header(name, len(payload), typeflag)
        out += payload + b"\0" * (-len(payload) % 512)
    if end_marker:
        out += b"\0" * 1024
    return bytes(out)


def test_tar_hand_single_member():
    b = _hand_tar([("a.txt", b"hi", b"0")])
    assert parse_archive(b) == [("a.txt", b"hi")]


def test_tar_header_bytes_pinned():
    """Byte-level pin of the ustar header: offsets, octal size field,
    magic/version, and the checksum-over-spaces rule — computed by
    hand for name='x' size=3."""
    hdr = _tar_header("x", 3)
    assert hdr[0:2] == b"x\0"
    assert hdr[124:136] == b"00000000003\0"
    assert hdr[156:157] == b"0"
    assert hdr[257:265] == b"ustar\00000"
    # checksum: recompute with the field spaced out
    chk = int(hdr[148:155].rstrip(b"\0 "), 8)
    assert chk == sum(hdr[:148]) + 8 * 0x20 + sum(hdr[156:])


def test_tar_prefix_field_joined():
    # 155-byte prefix support: build a >100-char path split at a '/'
    deep = "d/" * 60 + "leaf.bin"  # 128 chars
    b = _hand_tar([(deep, b"\x01\x02\x03", b"0")])
    assert parse_archive(b) == [(deep, b"\x01\x02\x03")]


def test_tar_directory_and_pax_members_skipped():
    b = _hand_tar(
        [
            ("dir/", b"", b"5"),
            ("pax", b"27 path=ignored/by/parser\n", b"x"),
            ("keep.txt", b"ok", b"0"),
        ]
    )
    assert parse_archive(b) == [("keep.txt", b"ok")]


def test_tar_gnu_longname_refused():
    b = _hand_tar([("././@LongLink", b"some/long/name\0", b"L"), ("t", b"x", b"0")])
    assert parse_archive(b) is None


def test_tar_checksum_corruption_refused():
    b = bytearray(_hand_tar([("a.txt", b"hi", b"0")]))
    b[0] ^= 0xFF  # name byte changes → stored checksum stale
    assert parse_archive(bytes(b)) is None


def test_tar_truncated_payload_refused():
    b = _hand_tar([("a.bin", b"x" * 700, b"0")], end_marker=False)
    assert parse_archive(b[: 512 + 600]) is None


def test_tar_missing_end_marker_refused():
    b = _hand_tar([("a.txt", b"hi", b"0")], end_marker=False)
    assert parse_archive(b) is None


# ---------------------------------------------------------------------------
# hand-built / corrupted zip vectors
# ---------------------------------------------------------------------------


def _zip_single(name: bytes, payload: bytes, method=0, crc=None, flags=0):
    data = payload
    if method == 8:
        co = zlib.compressobj(6, zlib.DEFLATED, -15)
        data = co.compress(payload) + co.flush()
    crc = zlib.crc32(payload) & 0xFFFFFFFF if crc is None else crc
    lhdr = struct.pack(
        "<IHHHHHIIIHH", 0x04034B50, 20, flags, method, 0, 0, crc,
        len(data), len(payload), len(name), 0,
    )
    local = lhdr + name + data
    central = struct.pack(
        "<IHHHHHHIIIHHHHHII", 0x02014B50, 20, 20, flags, method, 0, 0, crc,
        len(data), len(payload), len(name), 0, 0, 0, 0, 0, 0,
    ) + name
    eocd = struct.pack(
        "<IHHHHIIH", 0x06054B50, 0, 0, 1, 1, len(central), len(local), 0
    )
    return local + central + eocd


def test_zip_hand_stored_and_deflate():
    assert parse_archive(_zip_single(b"a.bin", b"\x00\x01\x02")) == [
        ("a.bin", b"\x00\x01\x02")
    ]
    assert parse_archive(_zip_single(b"a.txt", b"hello world " * 10, method=8)) == [
        ("a.txt", b"hello world " * 10)
    ]


def test_zip_crc_mismatch_refused():
    assert parse_archive(_zip_single(b"a.bin", b"abc", crc=0xDEADBEEF)) is None


def test_zip_streaming_flag_refused():
    assert parse_archive(_zip_single(b"a.bin", b"abc", flags=0x08)) is None


def test_zip_local_central_name_mismatch_refused():
    b = bytearray(_zip_single(b"a.bin", b"abc"))
    b[30] ^= 0x01  # flip a byte of the LOCAL name only
    assert parse_archive(bytes(b)) is None


def test_zip_unsupported_method_refused():
    assert parse_archive(_zip_single(b"a.bin", b"abc", method=12)) is None


def test_zip_missing_eocd_refused():
    b = _zip_single(b"a.bin", b"abc")
    assert parse_archive(b[:-22]) is None


def test_unrecognized_payload_refused():
    assert parse_archive(b"\x89PNG\r\n\x1a\n" + b"\0" * 600) is None
    assert parse_archive(b"") is None


# ---------------------------------------------------------------------------
# synthesis ↔ formula ↔ parser agreement, both containers
# ---------------------------------------------------------------------------


def test_roundtrip_matches_formula_both_formats():
    for sid in range(30):
        want = shard_members(sid)
        assert parse_archive(make_tar_shard(sid)) == want
        assert parse_archive(make_zip_shard(sid)) == want
        assert len(want) == 2 * shard_samples(sid)
        for s in range(shard_samples(sid)):
            tsz, bsz = member_sizes(sid, s)
            assert len(member_payload(sid, s, "txt")) == tsz
            assert len(member_payload(sid, s, "bin")) == bsz


def test_zstd_stream_shapes_match_formula():
    """r11 stream shapes: the multi-frame pzstd-style .tar.zst and
    the seekable-style trailing-skippable .jsonl.zst decode to the
    same members as their single-frame siblings."""
    from queryengine_spark.sources.archives import (
        make_jzst_seekable_shard,
        make_tzst_multiframe_shard,
    )

    for sid in (12, 28, 44, 60):
        want = shard_members(sid)
        b = make_tzst_multiframe_shard(sid)
        # really multi-frame: two standard magics + one skippable
        assert b.count(b"\x28\xb5\x2f\xfd") >= 2
        assert parse_archive(b) == want
    for sid in (14, 30, 46):
        want = shard_members(sid)
        b = make_jzst_seekable_shard(sid)
        assert b[-24:-20] != b"\x28\xb5\x2f\xfd"  # ends in a skippable
        assert parse_archive(b) == want


def test_tar_blocking_factor():
    assert len(make_tar_shard(7)) % 10240 == 0


def test_txt_payloads_printable():
    for s in range(shard_samples(11)):
        assert all(32 <= c < 127 for c in member_payload(11, s, "txt"))


# ---------------------------------------------------------------------------
# Spark plumbing
# ---------------------------------------------------------------------------


def test_spark_member_relation(spark):
    ids = spark.range(0, 8).select(F.col("id").alias("shard_id"))
    members = archive_members(synthesize_archives(ids))
    assert members.schema == MEMBER_SCHEMA
    rows = members.collect()
    want = sum(2 * shard_samples(s) for s in range(8))
    assert len(rows) == want
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r.shard_id, []).append(r)
    for sid, rs in by_shard.items():
        rs.sort(key=lambda r: r.ordinal)
        assert [(r.name, bytes(r.payload)) for r in rs] == shard_members(sid)
        # WebDataset grouping: sample_key = basename, ext split off
        assert all(r.name == f"{r.sample_key}.{r.ext}" for r in rs)


def test_spark_stats_match_python_reference(spark):
    ids = spark.range(0, 16).select(F.col("id").alias("shard_id"))
    got = {
        r.shard_id: r
        for r in archive_shard_stats(synthesize_archives(ids)).collect()
    }
    assert len(got) == 16
    for sid in range(16):
        members = shard_members(sid)
        r = got[sid]
        assert r.fmt == (
                "zip" if sid % 2 else
                {0: "tgz", 4: "tbz", 6: "txz", 8: "tzst", 12: "tzst",
                 10: "jzst", 14: "jzst"}.get(sid % 16, "tar")
            )
        assert r.n_members == len(members)
        assert r.n_samples == shard_samples(sid)
        assert r.total_bytes == sum(len(d) for _, d in members)
        assert r.payload_sum == sum(sum(d) for _, d in members)
        assert r.wsum == sum((i + 1) * len(d) for i, (_, d) in enumerate(members))
    assert archive_shard_stats(synthesize_archives(ids)).schema == STATS_SCHEMA


def test_stats_plan_no_shuffle(spark):
    """One shard = one row: synthesis, parsing and per-shard stats all
    happen in map_rows passes — the plan must contain no Exchange."""
    ids = spark.range(0, 4).select(F.col("id").alias("shard_id"))
    plan = (
        archive_shard_stats(synthesize_archives(ids))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan


def test_make_archive_parity_split():
    # r11: even shards rotate the container flavors on shard % 16
    # (8/12 -> .tar.zst, 10/14 -> .jsonl.zst)
    assert make_archive(0)[0] == "tgz"
    assert make_archive(1)[0] == "zip"
    assert make_archive(2)[0] == "tar"
    assert make_archive(3)[0] == "zip"
    assert make_archive(4)[0] == "tbz"
    assert make_archive(6)[0] == "txz"
    assert make_archive(8)[0] == "tzst"
    assert make_archive(10)[0] == "jzst"
    assert make_archive(12)[0] == "tzst"
    assert make_archive(14)[0] == "jzst"
    assert make_archive(16)[0] == "tgz"


# --------------------------------------------- zstd shards (r11)


def test_zstd_shards_equal_tar_members():
    """Both zstd containers are transparent: members == the same
    shard packed as plain tar == the member formula — through the
    from-scratch RFC 8878 decoder, not a library."""
    from queryengine_spark.sources.archives import (
        make_jzst_shard,
        make_tzst_shard,
        shard_members,
    )

    for sid in (8, 10, 12, 14, 24, 26):
        want = shard_members(sid)
        assert parse_archive(make_tzst_shard(sid)) == want
        assert parse_archive(make_jzst_shard(sid)) == want


def test_jsonl_zst_strictness():
    """Schema drift inside the JSONL refuses: extra keys, non-base64
    data, non-JSON lines — and a truncated zstd frame refuses at the
    codec layer."""
    from queryengine_spark.sources.archives import (
        _parse_jsonl_members,
        _zstd_compress,
        make_jzst_shard,
    )

    assert _parse_jsonl_members(b'{"name":"a.txt","data":"aGk="}\n') == [
        ("a.txt", b"hi")
    ]
    assert _parse_jsonl_members(b'{"name":"a","data":"aGk=","x":1}\n') is None
    assert _parse_jsonl_members(b'{"name":"a","data":"@@"}\n') is None
    assert _parse_jsonl_members(b"not json\n") is None
    assert _parse_jsonl_members(b"") is None
    assert parse_archive(make_jzst_shard(10)[:-3]) is None
    # a zstd frame wrapping garbage (neither ustar nor JSONL) refuses
    assert parse_archive(_zstd_compress(b"\x00" * 400)) is None


# ------------------------------------------------- gzip tar shards (r7)


def test_tgz_members_equal_tar_members():
    """The gzip wrap is transparent: tgz members == the same shard
    packed as plain tar == the member formula."""
    from queryengine_spark.sources.archives import make_tgz_shard, shard_members

    for sid in (0, 4, 8, 12):
        tgz = parse_archive(make_tgz_shard(sid))
        assert tgz == parse_archive(make_tar_shard(sid)) == shard_members(sid)


def test_gzip_header_bytes_pinned():
    """Hand-pin the RFC 1952 envelope: magic, CM, FNAME flag, the
    zero-terminated name, and the CRC32/ISIZE trailer of a known
    payload."""
    import struct
    import zlib

    from queryengine_spark.sources.archives import make_tgz_shard

    b = make_tgz_shard(4)
    assert b[:4] == b"\x1f\x8b\x08\x08"
    name_end = b.index(b"\x00", 10)
    assert b[10:name_end] == b"shard-000004.tar"
    raw = make_tar_shard(4)
    crc, isize = struct.unpack("<II", b[-8:])
    assert crc == (zlib.crc32(raw) & 0xFFFFFFFF)
    assert isize == len(raw) & 0xFFFFFFFF


def test_gzip_optional_fields_walked():
    """A reader that only handles the writer's own header shape is
    not a reader: hand-build FEXTRA + FNAME + FCOMMENT + FHCRC and
    require the same member list."""
    import struct
    import zlib

    from queryengine_spark.sources.archives import _parse_gzip, shard_members

    raw = make_tar_shard(8)
    co = zlib.compressobj(6, zlib.DEFLATED, -15)
    body = co.compress(raw) + co.flush()
    hdr = bytearray(b"\x1f\x8b\x08" + bytes([0x02 | 0x04 | 0x08 | 0x10]))
    hdr += struct.pack("<I", 123456) + b"\x00\xff"
    hdr += struct.pack("<H", 6) + b"AB\x02\x00XY"  # FEXTRA subfield
    hdr += b"a-name\x00"  # FNAME
    hdr += b"a comment\x00"  # FCOMMENT
    hdr += struct.pack("<H", zlib.crc32(bytes(hdr)) & 0xFFFF)  # FHCRC
    g = bytes(hdr) + body + struct.pack(
        "<II", zlib.crc32(raw) & 0xFFFFFFFF, len(raw) & 0xFFFFFFFF
    )
    assert _parse_gzip(g) == raw
    assert parse_archive(g) == shard_members(8)
    # corrupt the header CRC: refused
    bad = g[: len(hdr) - 2] + b"\x00\x00" + g[len(hdr):]
    assert _parse_gzip(bad) is None


def test_gzip_refusals():
    import struct
    import zlib

    from queryengine_spark.sources.archives import _parse_gzip, make_tgz_shard

    good = make_tgz_shard(4)
    raw = make_tar_shard(4)
    assert _parse_gzip(b"\x1f\x8b\x07" + good[3:]) is None  # CM != deflate
    assert _parse_gzip(good[:3] + b"\xe8" + good[4:]) is None  # reserved bits
    assert _parse_gzip(good[:-1]) is None  # truncated trailer
    assert _parse_gzip(good[:-8] + b"\x00" * 4 + good[-4:]) is None  # CRC
    assert (
        _parse_gzip(good[:-4] + struct.pack("<I", (len(raw) + 1) & 0xFFFFFFFF))
        is None
    )  # ISIZE
    assert parse_archive(good + b"junk") is None  # trailing garbage
    # gzip wrapping something that is not a tar: refused at dispatch
    co = zlib.compressobj(6, zlib.DEFLATED, -15)
    nb = co.compress(b"not a tar") + co.flush()
    g = (b"\x1f\x8b\x08\x00" + struct.pack("<I", 0) + b"\x00\xff" + nb
         + struct.pack("<II", zlib.crc32(b"not a tar") & 0xFFFFFFFF, 9))
    assert parse_archive(g) is None


# ------------------------------------------------------------- WARC (r8)


class TestWarc:
    def test_hand_built_record_layouts(self):
        """Layouts the writer never emits: LF-only separators,
        lowercase field names, whitespace-padded Content-Length."""
        from queryengine_spark.sources.warc import parse_warc

        rec = (
            b"WARC/1.0\n"
            b"warc-type: response\n"
            b"warc-record-id: <urn:uuid:x>\n"
            b"warc-date: 2026-01-01T00:00:00Z\n"
            b"content-length:   5\n"
            b"\n"
            b"hello\n\n"
        )
        out = parse_warc(rec)
        assert out is not None and len(out) == 1
        h, body = out[0]
        assert h["warc-type"] == "response" and body == b"hello"

        # CRLF form with an extra unknown header and binary payload
        rec2 = (
            b"WARC/1.0\r\n"
            b"WARC-Type: request\r\n"
            b"WARC-Record-ID: <urn:uuid:y>\r\n"
            b"WARC-Date: 2026-01-01T00:00:00Z\r\n"
            b"X-Custom: anything\r\n"
            b"Content-Length: 3\r\n"
            b"\r\n"
            + bytes([0, 255, 10])
            + b"\r\n\r\n"
        )
        out2 = parse_warc(rec2)
        assert out2 is not None and out2[0][1] == bytes([0, 255, 10])
        # payload containing CRLFCRLF must NOT truncate (length-sliced)
        rec3 = (
            b"WARC/1.0\r\nWARC-Type: response\r\n"
            b"WARC-Record-ID: <i>\r\nWARC-Date: d\r\n"
            b"Content-Length: 8\r\n\r\n"
            b"ab\r\n\r\ncd" + b"\r\n\r\n"
        )
        out3 = parse_warc(rec3)
        assert out3 is not None and out3[0][1] == b"ab\r\n\r\ncd"

    def test_refusals(self):
        from queryengine_spark.sources.warc import (
            make_warc_record,
            make_warc_shard,
            parse_warc,
        )

        good = make_warc_record(4, 1)
        # wrong version
        assert parse_warc(b"WARC/0.9" + good[8:]) is None
        # missing mandatory field (drop WARC-Date)
        assert parse_warc(good.replace(b"WARC-Date: ", b"X-Date: ")) is None
        # truncated payload
        assert parse_warc(good[:-10]) is None
        # non-numeric Content-Length
        bad = good.replace(b"Content-Length: ", b"Content-Length: x")
        assert parse_warc(bad) is None
        # gz shard: flip one payload byte -> member CRC fails
        gz = bytearray(make_warc_shard(5))
        gz[len(gz) // 2] ^= 0xFF
        assert parse_warc(bytes(gz)) is None
        # gz shard with trailing garbage
        assert parse_warc(make_warc_shard(5) + b"JUNK") is None

    def test_member_boundaries_must_equal_record_boundaries(self):
        """A gzip member holding TWO records violates the
        record-at-time convention and refuses."""
        import queryengine_spark.sources.warc as W

        two = W.make_warc_record(6, 1) + W.make_warc_record(6, 2)
        assert W.parse_warc(W._gzip_member(two)) is None
        # and one-per-member parses
        ok = W._gzip_member(W.make_warc_record(6, 1)) + W._gzip_member(
            W.make_warc_record(6, 2)
        )
        assert len(W.parse_warc(ok)) == 2

    def test_plain_equals_gz_records(self):
        from queryengine_spark.sources.warc import (
            make_warc_shard,
            parse_warc,
            warc_n_records,
        )

        # shards 2k and 2k+... same formulas only at the SAME id; use
        # id 7 (gz) re-encoded as plain for the comparison
        import queryengine_spark.sources.warc as W

        plain = b"".join(
            W.make_warc_record(7, i) for i in range(warc_n_records(7))
        )
        a = parse_warc(plain)
        b = parse_warc(make_warc_shard(7))
        assert [(h["warc-record-id"], p) for h, p in a] == [
            (h["warc-record-id"], p) for h, p in b
        ]

    def test_spark_records_match_python_reference(self, spark, sf_dir):
        from queryengine_spark.queries.archives import source_warc_records
        from queryengine_spark.sources.warc import (
            warc_body_encoding,
            warc_n_records,
            warc_payload,
            warc_rec_type,
        )

        got = {
            (r["shard_id"], r["rec_idx"]): (
                r["fmt"], r["rec_type"], r["content_length"], r["payload_sum"]
            )
            for r in source_warc_records(spark, sf_dir).collect()
        }
        d = spark.read.parquet(f"{sf_dir}/documents.parquet")
        sids = [r["doc_id"] for r in d.select("doc_id").collect()]
        assert len(got) == sum(warc_n_records(s) for s in sids)
        for s in sids[:20]:
            for i in range(warc_n_records(s)):
                body = warc_payload(s, i)
                # r9: raw-layer accounting is NULL for encoded
                # (chunked/gzip) transfers — the decoded http_* view
                # is the certified one there
                if warc_body_encoding(s, i) != "identity":
                    exp_cl, exp_ps = None, None
                else:
                    exp_cl, exp_ps = len(body), sum(body)
                assert got[(s, i)] == (
                    "warc" if s % 2 == 0 else "warc.gz",
                    warc_rec_type(i), exp_cl, exp_ps,
                ), (s, i)

    def test_plan_shuffle_free(self, spark, sf_dir):
        from queryengine_spark.queries.archives import source_warc_records

        plan = (
            source_warc_records(spark, sf_dir)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "ENSURE_REQUIREMENTS" not in plan
        assert "Join" not in plan


class TestWarcHttpPayloads:
    """r9 (verdict item 3): response/request records carry full HTTP
    messages; the parser splits the header block for real. Pinned
    against hand-built byte vectors the synthesizer never emits."""

    def test_hand_built_response_with_headers(self):
        from queryengine_spark.sources.warc import parse_http_payload

        payload = (
            b"HTTP/1.1 200 OK\r\n"
            b"Content-Type: text/html; charset=UTF-8\r\n"
            b"Content-Length: 11\r\n"
            b"X-Crawl-Seq: 42\r\n"
            b"\r\n"
            b"hello\nworld"
        )
        status, hdrs, body = parse_http_payload(payload, "response")
        assert status == 200
        assert hdrs == {
            "content-type": "text/html; charset=UTF-8",
            "content-length": "11",
            "x-crawl-seq": "42",
        }
        assert body == b"hello\nworld"

    def test_hand_built_request(self):
        from queryengine_spark.sources.warc import parse_http_payload

        payload = (
            b"GET /p3 HTTP/1.1\r\n"
            b"Host: site9.example\r\n"
            b"User-Agent: qe-crawler/1.0\r\n"
            b"Accept: text/html\r\n\r\n"
        )
        status, hdrs, body = parse_http_payload(payload, "request")
        assert status is None
        assert hdrs["host"] == "site9.example"
        assert body == b""

    def test_malformed_http_refuses(self):
        from queryengine_spark.sources.warc import parse_http_payload

        # no header/body separator
        assert parse_http_payload(b"HTTP/1.1 200 OK\r\nA: b", "response") is None
        # wrong protocol token
        assert (
            parse_http_payload(b"HTTP/2 200 OK\r\n\r\nx", "response") is None
        )
        # 2-digit status
        assert (
            parse_http_payload(b"HTTP/1.1 20 OK\r\n\r\nx", "response") is None
        )
        # non-numeric status
        assert (
            parse_http_payload(b"HTTP/1.1 2xx OK\r\n\r\nx", "response") is None
        )
        # header line without a colon
        assert (
            parse_http_payload(
                b"HTTP/1.1 200 OK\r\nbadheader\r\n\r\nx", "response"
            )
            is None
        )
        # request line with the wrong arity
        assert parse_http_payload(b"GET /p1\r\n\r\n", "request") is None

    def test_body_sums_certify_header_strip(self):
        """whole-payload sum − body sum == ASCII sum of the exact
        serialized header text (what the oracle recomputes)."""
        from queryengine_spark.sources.warc import (
            http_msgtype,
            make_warc_record,
            parse_http_payload,
            parse_warc,
            warc_body,
            warc_http_status,
            warc_rec_type,
        )

        from queryengine_spark.sources.warc import warc_body_encoding

        for sid in (0, 3, 7, 12):
            rec = make_warc_record(sid, 2)  # i=2 -> response
            assert warc_rec_type(2) == "response"
            [(hdrs, payload)] = parse_warc(rec)
            assert http_msgtype(hdrs) == "response"
            status, hh, body = parse_http_payload(payload, "response")
            assert status == warc_http_status(sid, 2)
            assert body == warc_body(sid, 2)
            enc = warc_body_encoding(sid, 2)
            if enc == "identity":
                head_bytes = payload[: len(payload) - len(body)]
                assert sum(payload) - sum(body) == sum(head_bytes)
                assert head_bytes.decode("ascii").isprintable() is False
                assert int(hh["content-length"]) == len(body)
            elif enc == "chunked":
                # r9: framing undone — no Content-Length on the wire
                assert "content-length" not in hh
                assert hh["transfer-encoding"] == "chunked"
            else:
                from queryengine_spark.sources.warc import _gzip_member

                assert hh["content-encoding"] == "gzip"
                # the wire CL is the COMPRESSED member's length
                assert int(hh["content-length"]) == len(_gzip_member(body))

    def test_wet_record_round_trips_body_through_http(self):
        from queryengine_spark.sources.warc import (
            http_msgtype,
            make_wet_record,
            parse_http_payload,
            parse_warc,
        )

        doc = "café <b>&amp;</b> body".encode("utf-8")
        # late r9: the transfer shape rotates on doc_id % 3 — all
        # three codings must round-trip the body byte-for-byte
        for did, enc in ((9, "identity"), (10, "chunked"), (11, "gzip")):
            [(hdrs, payload)] = parse_warc(make_wet_record(did, doc))
            assert http_msgtype(hdrs) == "response"
            status, hh, body = parse_http_payload(payload, "response")
            assert status == 200 and body == doc, (did, enc)
            if enc == "identity":
                assert int(hh["content-length"]) == len(doc)
            elif enc == "chunked":
                assert hh["transfer-encoding"] == "chunked"
                assert "content-length" not in hh
            else:
                assert hh["content-encoding"] == "gzip"

    def test_malformed_http_record_refused_record_level(self, spark):
        """A record claiming application/http with a broken message
        contributes no row; its shard neighbors still parse."""
        from queryengine_spark.sources.warc import (
            CRLF,
            WARC_RECORD_SCHEMA,
            make_warc_record,
            warc_record_stats,
        )

        bad_payload = b"NOT-HTTP-AT-ALL"
        lines = [
            b"WARC/1.0",
            b"WARC-Type: response",
            b"WARC-Record-ID: <urn:uuid:0-0-0-0-1>",
            b"WARC-Date: 2026-01-01T00:00:00Z",
            b"Content-Type: application/http; msgtype=response",
            b"Content-Length: " + str(len(bad_payload)).encode(),
        ]
        bad = CRLF.join(lines) + CRLF + CRLF + bad_payload + CRLF + CRLF
        shard = make_warc_record(4, 0) + bad + make_warc_record(4, 2)
        sdf = spark.createDataFrame(
            [(99, bytearray(shard))], "shard_id long, payload binary"
        )
        rows = warc_record_stats(sdf).collect()
        assert len(rows) == 2  # warcinfo + good response; bad dropped
        assert [r["rec_idx"] for r in rows] == [0, 2]
        assert rows[1]["http_status"] is not None
        assert set(warc_record_stats(sdf).columns) == {
            f.name for f in WARC_RECORD_SCHEMA.fields
        }


class TestWarcCdx:
    """r9: CDX capture-index generation — byte spans must honor the
    RANGED-READ contract (slice exactly [offset, offset+length) out
    of the shard and get one independently parseable record), for
    both container flavors."""

    def test_plain_spans_slice_to_exact_records(self):
        from queryengine_spark.sources.warc import (
            make_warc_shard,
            parse_warc,
            parse_warc_spans,
            warc_n_records,
        )

        for sid in (0, 4, 10):  # even → plain
            shard = make_warc_shard(sid)
            spans = parse_warc_spans(shard)
            assert len(spans) == warc_n_records(sid)
            pos = 0
            for off, ln, headers, payload in spans:
                assert off == pos  # records are back to back
                piece = shard[off : off + ln]
                [(h2, p2)] = parse_warc(piece)  # standalone parse
                assert h2 == headers and p2 == payload
                pos = off + ln
            assert pos == len(shard)  # spans tile the shard exactly

    def test_gz_member_spans_slice_to_exact_records(self):
        from queryengine_spark.sources.warc import (
            make_warc_shard,
            parse_warc,
            parse_warc_spans,
            warc_n_records,
        )

        for sid in (1, 5, 11):  # odd → record-per-member .warc.gz
            shard = make_warc_shard(sid)
            spans = parse_warc_spans(shard)
            assert len(spans) == warc_n_records(sid)
            pos = 0
            for off, ln, headers, payload in spans:
                assert off == pos
                piece = shard[off : off + ln]
                # the sliced member is a complete .gz shard of ONE
                # record — the CommonCrawl ranged-read contract
                [(h2, p2)] = parse_warc(piece)
                assert h2 == headers and p2 == payload
                pos = off + ln
            assert pos == len(shard)

    def test_surt(self):
        from queryengine_spark.sources.warc import surt

        assert surt("https://news.site7.example/p3") == "example,site7,news)/p3"
        assert surt("https://site0.example/p1") == "example,site0)/p1"
        assert surt("http://Host.Example") == "example,host)/"
        assert surt("no-scheme") is None

    def test_cdx_rows_match_python_reference(self, spark):
        import hashlib

        from queryengine_spark.sources.warc import (
            http_msgtype,
            parse_http_payload,
            parse_warc_spans,
            make_warc_shard,
            synthesize_warc,
            warc_cdx_records,
        )

        ids = spark.createDataFrame([(i,) for i in range(12)], "shard_id long")
        got = {
            (r["shard_id"], r["rec_idx"]): r
            for r in warc_cdx_records(synthesize_warc(ids)).collect()
        }
        n = 0
        for sid in range(12):
            shard = make_warc_shard(sid)
            for i, (off, ln, headers, payload) in enumerate(
                parse_warc_spans(shard)
            ):
                if headers.get("warc-type") != "response":
                    continue
                n += 1
                r = got[(sid, i)]
                status, hdrs, _ = parse_http_payload(payload, "response")
                assert r["offset"] == off and r["rlength"] == ln
                assert r["http_status"] == status
                assert r["ts"] == "20260101000000"
                assert r["mime"] == "text/html"
                assert r["digest"] == hashlib.sha256(
                    payload.hex().encode()
                ).hexdigest()
                assert r["fmt"] == ("warc" if sid % 2 == 0 else "warc.gz")
        assert len(got) == n and n > 10


class TestWarcCdxLookup:
    """r9: ranged-read capture replay — values must be derived from
    the slice alone, and a corrupted span must kill the row, never
    return wrong data."""

    def test_lookup_matches_python_reference(self, spark):
        import hashlib

        from queryengine_spark.sources.warc import (
            URI_HASH_HEX,
            make_warc_shard,
            parse_http_payload,
            parse_warc,
            synthesize_warc,
            warc_body,
            warc_cdx_lookup,
            warc_http_status,
            warc_n_records,
            warc_rec_type,
            warc_uri,
        )

        ids = spark.createDataFrame([(i,) for i in range(12)], "shard_id long")
        got = {
            (r["shard_id"], r["rec_idx"]): r
            for r in warc_cdx_lookup(synthesize_warc(ids)).collect()
        }
        n = 0
        for sid in range(12):
            for i in range(warc_n_records(sid)):
                if warc_rec_type(i) != "response":
                    continue
                n += 1
                r = got[(sid, i)]
                assert r["fmt"] == ("warc" if sid % 2 == 0 else "warc.gz")
                assert r["http_status"] == warc_http_status(sid, i)
                body = warc_body(sid, i)
                assert r["body_len"] == len(body)
                assert r["body_sum"] == sum(body)
                uri = warc_uri(sid, i)
                assert r["uri_hash"] == int(
                    hashlib.md5(uri.encode()).hexdigest()[:URI_HASH_HEX], 16
                )
        assert len(got) == n

    def test_wrong_span_yields_no_row_not_wrong_data(self):
        """Shift every response span by one byte: the slice no longer
        parses, so the record must VANISH from the lookup output —
        the property the oracle's row count converts into a failure."""
        from queryengine_spark.sources.warc import (
            _parse_one_record,
            gzip_members,
            http_msgtype,
            make_warc_shard,
            parse_warc_spans,
        )

        for sid in (2, 3):  # one plain, one gz
            shard = make_warc_shard(sid)
            spans = parse_warc_spans(shard)
            for off, ln, hdrs, _ in spans:
                if hdrs.get("warc-type") != "response":
                    continue
                # correct slice replays
                sl = shard[off : off + ln]
                if sid % 2 == 1:
                    [raw] = gzip_members(sl)
                else:
                    raw = sl
                rec = _parse_one_record(raw, 0)
                assert rec is not None and rec[2] == len(raw)
                assert http_msgtype(rec[0]) == "response"
                # shifted slice refuses (start no longer a member /
                # version line; a short tail is caught by the
                # rec[2] == len(raw) whole-slice check)
                bad = shard[off + 1 : off + 1 + ln]
                if sid % 2 == 1:
                    assert gzip_members(bad) is None
                else:
                    rec2 = _parse_one_record(bad, 0)
                    assert rec2 is None or rec2[2] != len(bad)


class TestHttpTransferCodings:
    """r9: chunked and gzip response bodies — the real CommonCrawl
    transfer shapes a WET producer must undo."""

    def test_chunked_roundtrip_and_framing_strictness(self):
        from queryengine_spark.sources.warc import _chunk_frame, _dechunk

        for body in (b"", b"x", b"a" * 61, b"b" * 62, b"c" * 200):
            assert _dechunk(_chunk_frame(body)) == body
        good = _chunk_frame(b"hello world" * 10)
        # size line corrupted -> refuse
        assert _dechunk(b"zz" + good[2:]) is None
        # missing terminator CRLF -> refuse
        assert _dechunk(good[:-2]) is None
        # trailing garbage -> refuse
        assert _dechunk(good + b"x") is None
        # chunk data CRLF replaced -> refuse
        bad = bytearray(good)
        nl = good.find(b"\r\n") + 2
        sz = int(good[: nl - 2], 16)
        bad[nl + sz] = ord("X")
        assert _dechunk(bytes(bad)) is None

    def test_parse_http_undoes_codings(self):
        from queryengine_spark.sources.warc import (
            parse_http_payload,
            warc_body,
            warc_body_encoding,
            warc_response_payload,
        )

        seen = set()
        for sid in (1, 3, 5, 7, 9, 11):
            for i in (2, 3, 5, 6):
                if i % 3 == 1:
                    continue  # request slots
                enc = warc_body_encoding(sid, i)
                seen.add(enc)
                parsed = parse_http_payload(
                    warc_response_payload(sid, i), "response"
                )
                assert parsed is not None, (sid, i, enc)
                _, hdrs, body = parsed
                assert body == warc_body(sid, i), (sid, i, enc)
        assert seen == {"identity", "chunked", "gzip"}

    def test_coding_refusals(self):
        from queryengine_spark.sources.warc import parse_http_payload

        def msg(headers, body):
            return (
                ("HTTP/1.1 200 OK\r\n" + headers + "\r\n").encode("ascii")
                + body
            )

        # unknown transfer coding
        assert parse_http_payload(
            msg("Transfer-Encoding: brotli\r\n", b"x"), "response"
        ) is None
        # TE + CL conflict (RFC 9112 6.1 smuggling shape)
        assert parse_http_payload(
            msg("Transfer-Encoding: chunked\r\nContent-Length: 1\r\n",
                b"1\r\nx\r\n0\r\n\r\n"),
            "response",
        ) is None
        # Content-Length divergence is NOT a refusal (r10, r9
        # ADVICE): real captures truncate (WARC-Truncated) or carry
        # trailing junk — keep min(CL, len(body)) like WET producers.
        status, _, body = parse_http_payload(
            msg("Content-Length: 5\r\n", b"abc"), "response"
        )
        assert (status, body) == (200, b"abc")  # short capture kept
        status, _, body = parse_http_payload(
            msg("Content-Length: 3\r\n", b"abcJUNK"), "response"
        )
        assert (status, body) == (200, b"abc")  # trailing junk cut
        # malformed Content-Length digits
        assert parse_http_payload(
            msg("Content-Length: +3\r\n", b"abc"), "response"
        ) is None
        # unknown content coding
        assert parse_http_payload(
            msg("Content-Encoding: br\r\nContent-Length: 1\r\n", b"x"),
            "response",
        ) is None
        # gzip body that is not a gzip stream
        assert parse_http_payload(
            msg("Content-Encoding: gzip\r\nContent-Length: 3\r\n", b"abc"),
            "response",
        ) is None


class TestBz2XzShards:
    """r9: .tar.bz2 / .tar.xz flavors — strict whole-stream
    decompression (stdlib entropy layer, from-scratch ustar walk),
    corpus slot deferred to round 10."""

    def test_roundtrip_both(self):
        from queryengine_spark.sources.archives import (
            make_tbz_shard,
            make_txz_shard,
            parse_archive,
            shard_members,
        )

        for sid in (0, 3, 11):
            want = shard_members(sid)
            assert parse_archive(make_tbz_shard(sid)) == want
            assert parse_archive(make_txz_shard(sid)) == want

    def test_strictness(self):
        import bz2
        import lzma

        from queryengine_spark.sources.archives import (
            make_tbz_shard,
            make_txz_shard,
            parse_archive,
        )

        tbz, txz = make_tbz_shard(4), make_txz_shard(4)
        # truncation refused
        assert parse_archive(tbz[:-3]) is None
        assert parse_archive(txz[:-3]) is None
        # trailing garbage refused (a shard is ONE stream)
        assert parse_archive(tbz + b"x") is None
        assert parse_archive(txz + b"x") is None
        # valid stream but inner bytes are not a tar
        assert parse_archive(bz2.compress(b"not a tar" * 40)) is None
        assert parse_archive(lzma.compress(b"not a tar" * 40)) is None


class TestWarcRevisit:
    """r10: revisit records (ISO 28500 §6.7.2) — resolution pins plus
    the hand-mutated probes a deduplicated archive's reader meets."""

    def _stats(self, sid=4):
        from queryengine_spark.sources.warc import (
            make_warc_shard_revisit,
        )

        return make_warc_shard_revisit(sid)

    def test_roles_and_resolution_match_formulas(self):
        from queryengine_spark.sources.warc import (
            make_warc_shard_revisit,
            parse_warc,
            revisit_digest,
            revisit_original_idx,
            warc_n_records,
            warc_rec_type,
        )

        saw_revisit = False
        for sid in range(24):
            recs = parse_warc(make_warc_shard_revisit(sid))
            assert recs is not None and len(recs) == warc_n_records(sid)
            for i, (h, _pay) in enumerate(recs):
                if h["warc-type"] != "revisit":
                    continue
                saw_revisit = True
                orig = revisit_original_idx(sid, i)
                assert orig is not None
                assert h["warc-refers-to"] == recs[orig][0]["warc-record-id"]
                assert h["warc-payload-digest"].endswith(revisit_digest(sid, i))
                assert h["warc-truncated"] == "length"
        assert saw_revisit

    def test_revisit_payload_is_headers_only(self):
        from queryengine_spark.sources.warc import (
            make_warc_shard_revisit,
            parse_http_payload,
            parse_warc,
        )

        recs = parse_warc(make_warc_shard_revisit(10))  # n=9 -> revisits
        revs = [(h, p) for h, p in recs if h["warc-type"] == "revisit"]
        assert revs
        for h, p in revs:
            assert p.endswith(b"\r\n\r\n")  # truncated after the headers
            parsed = parse_http_payload(p, "response")
            # r10 CL leniency: the truncated capture parses with an
            # EMPTY body (Content-Length names the missing octets)
            assert parsed is not None and parsed[2] == b""

    def test_corrupted_digest_reported_not_dropped(self, spark):
        import pandas as pd
        from pyspark.sql import functions as F

        from queryengine_spark.sources.warc import (
            WARC_SHARD_SCHEMA,
            make_warc_shard_revisit,
            warc_revisit_stats,
        )

        sid = 10
        b = make_warc_shard_revisit(sid)
        mutated = b.replace(
            b"WARC-Payload-Digest: sha256:", b"WARC-Payload-Digest: sha256:0"
        )
        # EVERY digest header corrupted — only a revisit's CLAIMED
        # digest is checked (the reader recomputes originals' digests
        # from their bytes), so the revisit rows must report
        # digest_ok=False while response rows are unaffected
        pdf = pd.DataFrame({"shard_id": [sid], "payload": [mutated]})
        rows = warc_revisit_stats(
            spark.createDataFrame(pdf, WARC_SHARD_SCHEMA)
        ).collect()
        revs = [r for r in rows if r.rec_type == "revisit"]
        assert revs and any(r.digest_ok is False for r in revs)

    def test_unresolvable_reference_contributes_no_row(self, spark):
        import pandas as pd

        from queryengine_spark.sources.warc import (
            WARC_SHARD_SCHEMA,
            make_warc_shard_revisit,
            parse_warc,
            warc_revisit_stats,
        )

        sid = 10
        b = make_warc_shard_revisit(sid)
        recs = parse_warc(b)
        n_rev = sum(1 for h, _ in recs if h["warc-type"] == "revisit")
        assert n_rev >= 1
        # point every WARC-Refers-To at a record id that exists in no
        # record: the reader must drop those rows, not guess
        import re
        mutated = re.sub(
            rb"WARC-Refers-To: <urn:uuid:[0-9a-f-]+>",
            b"WARC-Refers-To: <urn:uuid:00000000-0000-0000-0000-000000000000>",
            b,
        )
        pdf = pd.DataFrame({"shard_id": [sid], "payload": [mutated]})
        rows = warc_revisit_stats(
            spark.createDataFrame(pdf, WARC_SHARD_SCHEMA)
        ).collect()
        assert sum(1 for r in rows if r.rec_type == "revisit") == 0
        assert sum(1 for r in rows if r.rec_type == "response") > 0

    def test_gz_flavor_revisits_resolve(self, spark):
        """Odd shards ship record-per-gzip-member — the revisit
        resolver must work identically through the compressed walk."""
        import pandas as pd

        from queryengine_spark.sources.warc import (
            WARC_SHARD_SCHEMA,
            make_warc_shard_revisit,
            revisit_original_idx,
            warc_n_records,
            warc_revisit_stats,
        )

        sids = [11, 17, 23]  # n_rec 8, 8, 8 -> revisits present
        pdf = pd.DataFrame(
            {
                "shard_id": sids,
                "payload": [make_warc_shard_revisit(s) for s in sids],
            }
        )
        rows = warc_revisit_stats(
            spark.createDataFrame(pdf, WARC_SHARD_SCHEMA)
        ).collect()
        assert all(r.fmt == "warc.gz" for r in rows)
        revs = [(r.shard_id, r.rec_idx, r.ref_idx) for r in rows
                if r.rec_type == "revisit"]
        want = [
            (s, i, revisit_original_idx(s, i))
            for s in sids
            for i in range(warc_n_records(s))
            if revisit_original_idx(s, i) is not None
        ]
        assert sorted(revs) == sorted(want)
        assert all(r.digest_ok for r in rows if r.rec_type == "revisit")


def test_wat_json_is_valid_and_matches_walk(spark):
    """r10: the WAT payload must be parseable JSON whose fields match
    the record walk — and byte-exact per the oracle's reconstruction
    (the entry contract pins that; this pins structural validity and
    the decoded Entity-Length against the body formulas)."""
    import json

    from pyspark.sql import functions as F

    from queryengine_spark.sources.warc import (
        synthesize_warc,
        warc_body_len,
        warc_http_status,
        warc_rec_type,
        warc_wat_records,
        warc_n_records,
    )

    ids = spark.range(0, 16).select(F.col("id").alias("shard_id"))
    rows = warc_wat_records(synthesize_warc(ids)).collect()
    # r11: EVERY record gets its envelope — response, request, warcinfo
    want_n = sum(warc_n_records(s) for s in range(16))
    assert len(rows) == want_n
    for r in rows:
        d = json.loads(r.wat_json)
        env = d["Envelope"]
        assert r.rec_type == warc_rec_type(r.rec_idx)
        assert env["WARC-Header-Metadata"]["WARC-Type"] == r.rec_type
        assert r.wat_len == len(r.wat_json)
        if r.rec_type == "response":
            hrm = env["Payload-Metadata"]["HTTP-Response-Metadata"]
            assert int(hrm["Response-Message"]["Status"]) == warc_http_status(
                r.shard_id, r.rec_idx
            )
            assert int(hrm["Entity-Length"]) == warc_body_len(
                r.shard_id, r.rec_idx
            )
        elif r.rec_type == "request":
            hrm = env["Payload-Metadata"]["HTTP-Request-Metadata"]
            assert hrm["Request-Message"]["Method"] == "GET"
            assert hrm["Request-Message"]["Path"] == f"/p{r.rec_idx}"
            assert hrm["Entity-Length"] == "0"
        else:
            info = env["Payload-Metadata"]["WARC-Info-Metadata"]
            assert info["software"] == "qe-crawler/1.0"
            assert info["hostname"] == f"host{r.shard_id % 20}.example"
            assert r.uri_hash is None
            assert "WARC-Target-URI" not in env["WARC-Header-Metadata"]


def test_wat_metadata_record_envelope():
    """r11: a metadata record (never synthesized by the corpus
    writer) gets a WARC-Metadata-Metadata envelope via the same
    warc-fields walk — hand-built record, local parse."""
    import json as _json

    from queryengine_spark.sources.warc import (
        _warc_fields,
        _wat_json_fields,
    )

    fields = _warc_fields(b"fetchTimeMs: 127\r\nhopsFromSeed: PE\r\n")
    assert fields == [("fetchTimeMs", "127"), ("hopsFromSeed", "PE")]
    js = _wat_json_fields(
        "metadata", "WARC-Metadata-Metadata",
        "https://site1.example/p2", fields,
    )
    d = _json.loads(js)
    env = d["Envelope"]
    assert env["WARC-Header-Metadata"]["WARC-Type"] == "metadata"
    assert env["WARC-Header-Metadata"]["WARC-Target-URI"] == (
        "https://site1.example/p2"
    )
    assert env["Payload-Metadata"]["WARC-Metadata-Metadata"] == {
        "fetchTimeMs": "127", "hopsFromSeed": "PE",
    }
    # malformed warc-fields refuse
    assert _warc_fields(b"no colon line\r\n") is None
    assert _warc_fields(b"") is None


def test_dict_bearing_jzst_flavor():
    """r12: shards ≡ 26 (mod 32) ship a leading in-band dictionary
    frame + a hand-rolled frame whose matches reach into it; the
    member walk must equal every other container's."""
    from queryengine_spark.sources.archives import (
        make_archive,
        make_jzst_dict_shard,
        parse_archive,
        shard_members,
    )
    from queryengine_spark.sources.zstd import ZSTD_MAGIC

    for s in (26, 58, 90, 122):
        fmt, b = make_archive(s)
        assert fmt == "jzst"
        assert b[0] == 0x5D  # leading dictionary skippable frame
        assert parse_archive(b) == list(shard_members(s))
    # % 64 == 58 compresses the dictionary payload; 26 ships it raw
    assert make_jzst_dict_shard(58)[8:12] == ZSTD_MAGIC
    assert make_jzst_dict_shard(26)[8:12] != ZSTD_MAGIC
    # without its dictionary frame the data frame refuses
    b = make_jzst_dict_shard(26)
    sz = int.from_bytes(b[4:8], "little")
    assert parse_archive(b[8 + sz:]) is None
