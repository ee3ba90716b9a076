"""From-scratch PDF text source (r11) — the most common non-HTML
document format in LLM corpora.

Same correctness story as every source in the repo (archives, WARC,
the codec matrix): spec-valid PDFs are SYNTHESIZED from arithmetic
formulas worker-side (classic cross-reference table, object graph
catalog→pages→page→content stream, Tj/TJ text operators, half the
content streams FlateDecoded), parsed back FOR REAL (header check,
startxref → xref walk with offset validation, trailer /Root chain,
object parser for dicts/arrays/names/numbers/strings/references,
stream /Length + endstream cross-check, FlateDecode via stdlib zlib —
the same entropy-layer dispensation as the gzip/bz2/xz slots — and a
content-stream tokenizer extracting text in operator order from
Tj / TJ / ' / " with full escape handling), and the DuckDB oracle
recomputes per-page text statistics FROM THE FORMULAS.

Modern-layout support (r11, second pass): PDF 1.5+ cross-reference
STREAMS (/Type /XRef with /W field widths, /Index subsections, and
/DecodeParms predictors — TIFF horizontal and all five PNG row
filters), object streams (/Type /ObjStm compressed objects via
type-2 entries), hybrid-reference files (classic table + /XRefStm,
§7.5.8.4 — the Acrobat back-compat shape), and mixed /Prev chains
(a classic-table base updated by an xref-stream section, the shape
an old document edited by a modern writer takes).

Encrypted documents (r11, third pass): the standard security
handler with an EMPTY user password — RC4 /V 1 /R 2 (40-bit),
/V 2 /R 3 (/Length ≤ 128), and /V 4 /R 4 crypt filters with
/CFM /V2 (RC4) or /CFM /AESV2 (AES-128-CBC, from-scratch FIPS-197
AES pinned to the published test vectors) — is decrypted
(sources/pdfcrypt.py: Algorithms 1-6 from the published spec,
per-object MD5 rekeying, strings and streams, XRef streams exempt
per spec). This is the crawled-web norm: owner-password
restrictions over freely readable content.

Font encodings (r12, fourth pass): text extraction is
encoding-aware — each simple font's /Encoding (named base
/WinAnsiEncoding or /MacRomanEncoding via the published tables, or
an /Encoding dictionary with /BaseEncoding + multi-run
/Differences arrays resolved through the Adobe Glyph List naming
conventions) maps shown codes to Unicode, and a /ToUnicode CMap
(bfchar + both bfrange destination forms) takes precedence when
present (sources/pdffonts.py). The ninth corpus flavor
(doc_id % 12 == 10) exercises all three paths with deliberately
disagreeing Differences/ToUnicode mappings; fonts with no encoding
info keep byte passthrough, preserving the certified byte-level
semantics of the plain-Helvetica flavors.

Honest refusals (None, never a guessed extraction):
- encrypted documents with a REAL user password (the /U check
  fails — never guessed or brute-forced), non-Standard handlers,
  /V 5 (AES-256 /AESV3 R5/R6), unknown /CFM values, or a
  missing /ID;
- composite (/Subtype /Type0, CID) fonts, base-encoding names
  outside the two published tables (incl. /StandardEncoding), a
  shown code undefined under its font's encoding, malformed
  /Differences or ToUnicode CMaps, a Tf naming a font absent from
  the page resources;
- filters other than a single /FlateDecode (+ predictor);
- any structural violation (bad offsets, /Length mismatch, malformed
  escapes, unbalanced strings, object-stream header/entry
  mismatches, unknown predictor tags).

Reference scope note: the reference engine (rickbeeloo/QueryEngine,
src/heurFuzz.py) reads plain text files; document-format ingestion is
part of the LLM-data-pipeline surface this repo adds beyond the
reference.
"""

from __future__ import annotations

import re
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
from queryengine_spark.sources.pdfcrypt import (
    aes128_cbc_encrypt,
    compute_key,
    compute_o,
    compute_u,
    decrypt_object_bytes,
    decrypt_object_bytes_aes,
    object_key_aes,
    verify_empty_user_password,
)
from queryengine_spark.sources.pdffonts import (
    FontDecoder,
    apply_differences,
    base_encoding_table,
    parse_tounicode,
)

# ---------------------------------------------------------------------------
# synthesis formulas — mirrored in the oracle SQL
# (queries/archives.py::SOURCE_PDF_TEXT_SQL); keep in sync.
# ---------------------------------------------------------------------------
PDF_NP_MOD = 4  # pages per doc: 1 + doc % PDF_NP_MOD        (1..4)
PDF_NL_MOD = 5  # text lines per page: 2 + (doc + p) % MOD    (2..6)
PDF_LEN_BASE, PDF_LEN_MOD = 6, 20  # line length 6..25
PDF_CH = (7, 3, 5)  # char j of line ln on page p of doc d:
#                     97 + (7*d + 3*p + 5*ln + j) % 26


def pdf_n_pages(doc_id: int) -> int:
    return 1 + doc_id % PDF_NP_MOD


def pdf_n_lines(doc_id: int, p: int) -> int:
    return 2 + (doc_id + p) % PDF_NL_MOD


def pdf_line_len(doc_id: int, p: int, ln: int) -> int:
    return PDF_LEN_BASE + (doc_id + 2 * p + 3 * ln) % PDF_LEN_MOD


def pdf_line_text(doc_id: int, p: int, ln: int) -> str:
    a, b, c = PDF_CH
    return "".join(
        chr(97 + (a * doc_id + b * p + c * ln + j) % 26)
        for j in range(pdf_line_len(doc_id, p, ln))
    )


# ---------------------------------------------------------------------------
# writer
# ---------------------------------------------------------------------------


def _content_stream(doc_id: int, p: int) -> bytes:
    """Page p's content: BT/ET block, even lines as plain Tj, odd
    lines as TJ arrays with kerning numbers BETWEEN string segments
    (an extractor that grabs only the first array element, or treats
    numbers as text, fails the oracle)."""
    ops = ["BT", "/F1 12 Tf", "72 720 Td"]
    for ln in range(pdf_n_lines(doc_id, p)):
        txt = pdf_line_text(doc_id, p, ln)
        if ln % 2 == 0:
            ops.append("(" + txt + ") Tj")
        else:
            cut = max(1, len(txt) // 2)
            kern = -20 - ((doc_id + ln) % 60)
            ops.append(
                "[(" + txt[:cut] + ") " + str(kern) + " ("
                + txt[cut:] + ")] TJ"
            )
        ops.append("0 -14 Td")
    ops.append("ET")
    return "\n".join(ops).encode("latin-1")


def make_pdf(doc_id: int) -> bytes:
    """Spec-valid PDF 1.4: header with a binary comment line, catalog
    (1 0) → pages (2 0) → page objects each holding a /Contents
    stream — pages where (doc_id + p) is even ship FlateDecoded,
    odd ship raw — a shared Type1 font object, a classic xref table
    with correct byte offsets, and a trailer + startxref."""
    return _make_pdf_base(doc_id, stale_last=False)[0]


def make_pdf_updated(doc_id: int) -> bytes:
    """Incrementally-UPDATED PDF (r11 — the real-world shape of an
    edited document): the base body ships the last page's content as
    a STALE placeholder stream, then an appended update section
    replaces that object — new object generation, a second xref
    table covering only it, and a trailer chaining back via /Prev.
    The final document state equals the formulas, so the shared
    oracle certifies that the reader honors the update (a reader
    serving the original object emits the placeholder text and
    hash-fails)."""
    base, xref1_at, n_objs, last_cid = _make_pdf_base(
        doc_id, stale_last=True
    )
    out = bytearray(base)
    upd_off = len(out)
    raw = _content_stream(doc_id, pdf_n_pages(doc_id) - 1)
    data = zlib.compress(raw, 6)
    body = (
        ("<< /Length " + str(len(data)) + " /Filter /FlateDecode >>").encode()
        + b"\nstream\n" + data + b"\nendstream"
    )
    out += str(last_cid).encode() + b" 0 obj\n" + body + b"\nendobj\n"
    xref2_at = len(out)
    out += b"xref\n0 1\n0000000000 65535 f \n"
    out += (
        str(last_cid).encode() + b" 1\n"
        + ("%010d 00000 n \n" % upd_off).encode()
    )
    out += (
        b"trailer\n<< /Size " + str(n_objs + 1).encode()
        + b" /Root 1 0 R /Prev " + str(xref1_at).encode()
        + b" >>\nstartxref\n" + str(xref2_at).encode() + b"\n%%EOF\n"
    )
    return bytes(out)


#: the stale last-page content an incremental update supersedes
PDF_STALE_TEXT = b"withdrawn draft \\(do not serve\\)"


# -- PDF 1.5 writers (xref streams / object streams / hybrid) --------------


def _png_filter_rows(rows: list[bytes], bpp: int) -> bytes:
    """Apply PNG row filters for synthesis, cycling the tag (None /
    Sub / Up / Average / Paeth) per row so the reader's predictor
    undo exercises every branch."""
    out = bytearray()
    prev = bytes(len(rows[0]))
    for i, raw in enumerate(rows):
        tag = i % 5
        out.append(tag)
        for j, x in enumerate(raw):
            a = raw[j - bpp] if j >= bpp else 0
            b_ = prev[j]
            c = prev[j - bpp] if j >= bpp else 0
            if tag == 0:
                pred = 0
            elif tag == 1:
                pred = a
            elif tag == 2:
                pred = b_
            elif tag == 3:
                pred = (a + b_) >> 1
            else:
                pa_, pb, pc = abs(b_ - c), abs(a - c), abs(a + b_ - 2 * c)
                pred = a if pa_ <= pb and pa_ <= pc else (b_ if pb <= pc else c)
            out.append((x - pred) & 0xFF)
        prev = raw
    return bytes(out)


def _pack_xref_rows(
    entries: list[tuple[int, int, int]], w: tuple[int, int, int]
) -> list[bytes]:
    return [
        b"".join(f.to_bytes(width, "big") for f, width in zip(e, w))
        for e in entries
    ]


def _xref_stream_body(
    entries: list[tuple[int, int, int]],
    trailer_extra: str,
    size: int,
    predictor: bool,
    index: list[tuple[int, int]] | None,
) -> bytes:
    """Serialize an xref STREAM object body: /W [1 3 1] rows, always
    FlateDecode, optionally behind PNG predictors with per-row tags
    (/DecodeParms /Predictor 15), optionally with explicit /Index
    subsections."""
    w = (1, 3, 1)
    rows = _pack_xref_rows(entries, w)
    parms = ""
    if predictor:
        data = zlib.compress(_png_filter_rows(rows, 1), 6)
        parms = " /DecodeParms << /Predictor 15 /Columns 5 >>"
    else:
        data = zlib.compress(b"".join(rows), 6)
    idx = ""
    if index is not None:
        idx = (
            " /Index ["
            + " ".join(f"{s} {c}" for s, c in index)
            + "]"
        )
    head = (
        "<< /Type /XRef /W [1 3 1] /Size " + str(size) + idx
        + " /Length " + str(len(data)) + " /Filter /FlateDecode"
        + parms + trailer_extra + " >>"
    )
    return head.encode() + b"\nstream\n" + data + b"\nendstream"


def _objstm_body(objs: list[tuple[int, bytes]]) -> bytes:
    """Serialize an object STREAM (/Type /ObjStm) holding the given
    (obj num, serialized value) pairs, FlateDecoded."""
    offs = []
    body = bytearray()
    for num, ser in objs:
        offs.append((num, len(body)))
        body += ser + b"\n"
    header = " ".join(f"{n} {o}" for n, o in offs).encode() + b"\n"
    payload = header + bytes(body)
    data = zlib.compress(payload, 6)
    head = (
        "<< /Type /ObjStm /N " + str(len(objs)) + " /First "
        + str(len(header)) + " /Length " + str(len(data))
        + " /Filter /FlateDecode >>"
    )
    return head.encode() + b"\nstream\n" + data + b"\nendstream"


def _pdf15_parts(doc_id: int) -> tuple[list[tuple[int, bytes]], list[tuple[int, bytes]], int]:
    """Split the document's objects for the PDF 1.5 layouts →
    (non-stream objects for the ObjStm, content stream objects,
    total object count N). Object ids match the classic writer."""
    n_pages = pdf_n_pages(doc_id)
    kids = " ".join(f"{4 + 2 * p} 0 R" for p in range(n_pages))
    in_stm: list[tuple[int, bytes]] = [
        (1, b"<< /Type /Catalog /Pages 2 0 R >>"),
        (
            2,
            (
                "<< /Type /Pages /Kids [" + kids + "] /Count "
                + str(n_pages) + " >>"
            ).encode(),
        ),
        (3, b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"),
    ]
    contents: list[tuple[int, bytes]] = []
    for p in range(n_pages):
        in_stm.append(
            (
                4 + 2 * p,
                (
                    "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
                    "/Resources << /Font << /F1 3 0 R >> >> /Contents "
                    + str(5 + 2 * p) + " 0 R >>"
                ).encode(),
            )
        )
        raw = _content_stream(doc_id, p)
        if (doc_id + p) % 2 == 0:
            data = zlib.compress(raw, 6)
            head = (
                "<< /Length " + str(len(data))
                + " /Filter /FlateDecode >>"
            ).encode()
        else:
            data = raw
            head = ("<< /Length " + str(len(data)) + " >>").encode()
        contents.append(
            (5 + 2 * p, head + b"\nstream\n" + data + b"\nendstream")
        )
    return in_stm, contents, 3 + 2 * n_pages


def make_pdf_xrefstream(doc_id: int) -> bytes:
    """PDF 1.5 layout (what every modern producer writes): catalog /
    pages / font / page dicts compressed into an object stream
    (type-2 entries), content streams as top-level objects, and a
    cross-reference STREAM instead of a classic table. Odd doc_ids
    put the xref rows behind PNG predictors with per-row filter tags
    (/Predictor 15); doc_id % 4 == 1 also splits /Index into two
    subsections. Same text state as the classic writer, so the
    formula oracle certifies this walk unchanged."""
    in_stm, contents, n = _pdf15_parts(doc_id)
    objstm_id, xref_id = n + 1, n + 2
    out = bytearray(b"%PDF-1.5\n%\xe2\xe3\xcf\xd3\n")
    offsets: dict[int, int] = {}
    for num, body in contents:
        offsets[num] = len(out)
        out += str(num).encode() + b" 0 obj\n" + body + b"\nendobj\n"
    offsets[objstm_id] = len(out)
    out += (
        str(objstm_id).encode() + b" 0 obj\n" + _objstm_body(in_stm)
        + b"\nendobj\n"
    )
    xref_at = len(out)
    entries: list[tuple[int, int, int]] = [(0, 0, 0)]
    for num, _ in in_stm:
        entries.append((2, objstm_id, [n_ for n_, _b in in_stm].index(num)))
    for num, _ in contents:
        entries.append((1, offsets[num], 0))
    entries.append((1, offsets[objstm_id], 0))
    entries.append((1, xref_at, 0))
    # entries must be sorted by object id (0..xref_id, dense here)
    order = (
        [0]
        + [num for num, _ in in_stm]
        + [num for num, _ in contents]
        + [objstm_id, xref_id]
    )
    dense = [e for _, e in sorted(zip(order, entries))]
    size = xref_id + 1
    index = None
    if doc_id % 4 == 1:
        cut = size // 2
        index = [(0, cut), (cut, size - cut)]
    out += (
        str(xref_id).encode() + b" 0 obj\n"
        + _xref_stream_body(
            dense, " /Root 1 0 R", size, predictor=doc_id % 2 == 1,
            index=index,
        )
        + b"\nendobj\n"
    )
    out += b"startxref\n" + str(xref_at).encode() + b"\n%%EOF\n"
    return bytes(out)


def make_pdf_hybrid(doc_id: int) -> bytes:
    """Hybrid-reference file (§7.5.8.4 — Acrobat's back-compat
    shape): a CLASSIC xref table covering only the top-level objects
    (content streams, the ObjStm, the xref stream) whose trailer
    carries /XRefStm pointing at a cross-reference stream that
    supplies the type-2 entries for the ObjStm-resident catalog /
    pages / font / page dicts. A reader ignoring /XRefStm cannot
    resolve the catalog and refuses; honoring it yields the same
    text state as every other flavor."""
    in_stm, contents, n = _pdf15_parts(doc_id)
    objstm_id, xref_id = n + 1, n + 2
    out = bytearray(b"%PDF-1.5\n%\xe2\xe3\xcf\xd3\n")
    offsets: dict[int, int] = {}
    for num, body in contents:
        offsets[num] = len(out)
        out += str(num).encode() + b" 0 obj\n" + body + b"\nendobj\n"
    offsets[objstm_id] = len(out)
    out += (
        str(objstm_id).encode() + b" 0 obj\n" + _objstm_body(in_stm)
        + b"\nendobj\n"
    )
    # the /XRefStm target: type-2 entries only (plus its own type-1)
    xrefstm_at = len(out)
    in_ids = [num for num, _ in in_stm]
    by_id: dict[int, tuple[int, int, int]] = {
        num: (2, objstm_id, in_ids.index(num)) for num in in_ids
    }
    by_id[xref_id] = (1, xrefstm_at, 0)
    # /Index as contiguous runs (page ids 4,6,8.. leave gaps the
    # subsection boundaries must respect)
    index = []
    stm_entries: list[tuple[int, int, int]] = []
    for num in sorted(by_id):
        if index and index[-1][0] + index[-1][1] == num:
            index[-1] = (index[-1][0], index[-1][1] + 1)
        else:
            index.append((num, 1))
        stm_entries.append(by_id[num])
    out += (
        str(xref_id).encode() + b" 0 obj\n"
        + _xref_stream_body(
            stm_entries, " /Root 1 0 R", xref_id + 1,
            predictor=doc_id % 2 == 1, index=index,
        )
        + b"\nendobj\n"
    )
    # classic table: subsection for the content streams + ObjStm
    xref_at = len(out)
    out += b"xref\n0 1\n0000000000 65535 f \n"
    top_ids = sorted([num for num, _ in contents] + [objstm_id])
    # content ids are odd-spaced (5,7,9..) then objstm: one
    # subsection per id keeps the table honest about gaps
    for num in top_ids:
        out += (
            str(num).encode() + b" 1\n"
            + ("%010d 00000 n \n" % offsets[num]).encode()
        )
    out += (
        b"trailer\n<< /Size " + str(xref_id + 1).encode()
        + b" /Root 1 0 R /XRefStm " + str(xrefstm_at).encode()
        + b" >>\nstartxref\n" + str(xref_at).encode() + b"\n%%EOF\n"
    )
    return bytes(out)


def make_pdf_updated_xrstream(doc_id: int) -> bytes:
    """Mixed /Prev chain (r11): a classic-table BASE document whose
    incremental update section uses a cross-reference STREAM — the
    shape an old document takes when edited by a modern writer. The
    update replaces the stale last page exactly like
    make_pdf_updated, so the shared oracle certifies the mixed
    walk."""
    base, xref1_at, n_objs, last_cid = _make_pdf_base(
        doc_id, stale_last=True
    )
    out = bytearray(base)
    upd_off = len(out)
    raw = _content_stream(doc_id, pdf_n_pages(doc_id) - 1)
    data = zlib.compress(raw, 6)
    body = (
        ("<< /Length " + str(len(data)) + " /Filter /FlateDecode >>").encode()
        + b"\nstream\n" + data + b"\nendstream"
    )
    out += str(last_cid).encode() + b" 0 obj\n" + body + b"\nendobj\n"
    xref_id = n_objs + 1
    xref2_at = len(out)
    entries = [(1, upd_off, 0), (1, xref2_at, 0)]
    index = [(last_cid, 1), (xref_id, 1)]
    out += (
        str(xref_id).encode() + b" 0 obj\n"
        + _xref_stream_body(
            entries,
            " /Root 1 0 R /Prev " + str(xref1_at),
            xref_id + 1,
            predictor=doc_id % 2 == 1,
            index=index,
        )
        + b"\nendobj\n"
    )
    out += b"startxref\n" + str(xref2_at).encode() + b"\n%%EOF\n"
    return bytes(out)


def _make_pdf_base(
    doc_id: int,
    stale_last: bool,
    font_body: bytes | None = None,
    tail_objects: list[bytes] | None = None,
    content_fn=None,
) -> tuple[bytes, int, int, int]:
    """The single-generation document → (bytes, xref offset, object
    count, last page's content object id). ``font_body`` /
    ``tail_objects`` / ``content_fn`` let the encoded flavor (r12)
    swap the font dictionary, append a ToUnicode stream after the
    page objects, and substitute the content-stream builder; the
    defaults reproduce the original document byte-for-byte."""
    n_pages = pdf_n_pages(doc_id)
    objects: list[bytes] = []  # bodies of objects 1..N in id order

    # object ids: 1 catalog, 2 pages, 3 font, then per page:
    # 4+2k page, 5+2k content, then any tail objects
    kids = " ".join(f"{4 + 2 * p} 0 R" for p in range(n_pages))
    objects.append(b"<< /Type /Catalog /Pages 2 0 R >>")
    objects.append(
        (
            "<< /Type /Pages /Kids [" + kids + "] /Count "
            + str(n_pages) + " >>"
        ).encode()
    )
    objects.append(
        font_body
        if font_body is not None
        else b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
    )
    for p in range(n_pages):
        objects.append(
            (
                "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
                "/Resources << /Font << /F1 3 0 R >> >> /Contents "
                + str(5 + 2 * p) + " 0 R >>"
            ).encode()
        )
        if stale_last and p == n_pages - 1:
            raw = b"BT (" + PDF_STALE_TEXT + b") Tj ET"
        elif content_fn is not None:
            raw = content_fn(doc_id, p)
        else:
            raw = _content_stream(doc_id, p)
        if (doc_id + p) % 2 == 0:
            data = zlib.compress(raw, 6)
            head = (
                "<< /Length " + str(len(data))
                + " /Filter /FlateDecode >>"
            ).encode()
        else:
            data = raw
            head = ("<< /Length " + str(len(data)) + " >>").encode()
        objects.append(head + b"\nstream\n" + data + b"\nendstream")
    if tail_objects:
        objects.extend(tail_objects)

    out = bytearray(b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n")
    offsets = [0]  # object 0 is the free head
    for i, body in enumerate(objects, start=1):
        offsets.append(len(out))
        out += str(i).encode() + b" 0 obj\n" + body + b"\nendobj\n"
    xref_at = len(out)
    out += b"xref\n0 " + str(len(objects) + 1).encode() + b"\n"
    out += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        out += ("%010d 00000 n \n" % off).encode()
    out += (
        b"trailer\n<< /Size " + str(len(objects) + 1).encode()
        + b" /Root 1 0 R >>\nstartxref\n" + str(xref_at).encode()
        + b"\n%%EOF\n"
    )
    return bytes(out), xref_at, len(objects), 5 + 2 * (n_pages - 1)


# ---------------------------------------------------------------------------
# object parser
# ---------------------------------------------------------------------------

_WS = b"\x00\t\n\x0c\r "
_DELIM = b"()<>[]{}/%"


class _Objs:
    """Minimal PDF object reader over a byte buffer; raises
    ValueError on malformation."""

    def __init__(self, buf: bytes, pos: int = 0) -> None:
        self.b = buf
        self.p = pos

    def _skip_ws(self) -> None:
        while self.p < len(self.b):
            c = self.b[self.p]
            if c in _WS:
                self.p += 1
            elif c == 0x25:  # '%' comment to EOL
                nl = self.b.find(b"\n", self.p)
                self.p = len(self.b) if nl < 0 else nl + 1
            else:
                return

    def value(self):
        """One object: dict, array, name, number, string, bool, null,
        or an indirect reference tuple ('ref', n, g)."""
        self._skip_ws()
        if self.p >= len(self.b):
            raise ValueError("pdf: eof in object")
        b, p = self.b, self.p
        if b[p : p + 2] == b"<<":
            return self._dict()
        if b[p] == 0x5B:  # [
            self.p += 1
            arr = []
            while True:
                self._skip_ws()
                if self.p >= len(b):
                    raise ValueError("pdf: unterminated array")
                if b[self.p] == 0x5D:
                    self.p += 1
                    return arr
                arr.append(self.value())
        if b[p] == 0x2F:  # /name
            self.p += 1
            q = self.p
            while q < len(b) and b[q] not in _WS and b[q] not in _DELIM:
                q += 1
            name = b[self.p : q].decode("latin-1")
            self.p = q
            return ("name", name)
        if b[p] == 0x28:  # (string)
            return ("str", self._literal_string())
        if b[p] == 0x3C:  # <hex string>
            q = b.find(b">", p + 1)
            if q < 0:
                raise ValueError("pdf: unterminated hex string")
            hx = bytes(c for c in b[p + 1 : q] if c not in _WS)
            if len(hx) % 2:
                hx += b"0"
            try:
                s = bytes.fromhex(hx.decode("ascii"))
            except (UnicodeDecodeError, ValueError) as e:
                raise ValueError("pdf: bad hex string") from e
            self.p = q + 1
            return ("str", s)
        m = re.match(rb"[-+]?\d+(\.\d*)?|[-+]?\.\d+", b[p:])
        if m:
            tok = m.group(0)
            # indirect reference lookahead: INT INT R
            if b"." not in tok:
                m2 = re.match(
                    rb"(\d+)\s+(\d+)\s+R(?![A-Za-z0-9])", b[p:]
                )
                if m2 and tok == m2.group(1):
                    self.p = p + m2.end()
                    return ("ref", int(m2.group(1)), int(m2.group(2)))
            self.p = p + len(tok)
            return float(tok) if b"." in tok else int(tok)
        for lit, val in ((b"true", True), (b"false", False), (b"null", None)):
            if b[p : p + len(lit)] == lit:
                self.p = p + len(lit)
                return val
        raise ValueError("pdf: unparseable object")

    def _dict(self):
        self.p += 2
        d = {}
        while True:
            self._skip_ws()
            if self.b[self.p : self.p + 2] == b">>":
                self.p += 2
                return d
            k = self.value()
            if not (isinstance(k, tuple) and k[0] == "name"):
                raise ValueError("pdf: dict key is not a name")
            d[k[1]] = self.value()

    def _literal_string(self) -> bytes:
        b = self.b
        p = self.p + 1
        out = bytearray()
        depth = 1
        while p < len(b):
            c = b[p]
            if c == 0x5C:  # backslash escape
                if p + 1 >= len(b):
                    raise ValueError("pdf: dangling escape")
                e = b[p + 1]
                mapped = {
                    0x6E: b"\n", 0x72: b"\r", 0x74: b"\t",
                    0x62: b"\b", 0x66: b"\f", 0x28: b"(",
                    0x29: b")", 0x5C: b"\\",
                }.get(e)
                if mapped is not None:
                    out += mapped
                    p += 2
                elif 0x30 <= e <= 0x37:  # \ooo octal, 1-3 digits
                    q = p + 1
                    oct_s = b""
                    while q < len(b) and len(oct_s) < 3 and 0x30 <= b[q] <= 0x37:
                        oct_s += bytes([b[q]])
                        q += 1
                    out.append(int(oct_s, 8) & 0xFF)
                    p = q
                elif e in (0x0A, 0x0D):  # line continuation
                    p += 2
                    if e == 0x0D and p < len(b) and b[p] == 0x0A:
                        p += 1
                else:  # unknown escape: the char itself (spec §7.3.4.2)
                    out.append(e)
                    p += 2
            elif c == 0x28:
                depth += 1
                out.append(c)
                p += 1
            elif c == 0x29:
                depth -= 1
                if depth == 0:
                    self.p = p + 1
                    return bytes(out)
                out.append(c)
                p += 1
            else:
                out.append(c)
                p += 1
        raise ValueError("pdf: unterminated string")


# ---------------------------------------------------------------------------
# document walk
# ---------------------------------------------------------------------------

#: an xref entry is either a direct byte offset (int) or a tuple
#: ("objstm", container_obj_num, index_within_container) for
#: compressed (type-2) objects living inside an object stream.
XrefEntry = "int | tuple[str, int, int]"


def _undo_predictor(
    data: bytes, predictor: int, columns: int, colors: int, bpc: int
) -> bytes | None:
    """Undo a /DecodeParms predictor (PDF 32000 §7.4.4.4 via the PNG
    spec): 1 = none, 2 = TIFF horizontal (8-bit only), >=10 = PNG
    per-row filter tags (None/Sub/Up/Average/Paeth — the tag byte
    decides per row, whatever the declared predictor value). Returns
    the reconstructed bytes or None on malformation."""
    if predictor == 1:
        return data
    if columns <= 0 or colors <= 0 or bpc <= 0:
        return None
    if predictor == 2:
        if bpc != 8:
            return None  # sub-byte TIFF predictor: refuse
        row_len = columns * colors
        if row_len == 0 or len(data) % row_len:
            return None
        out = bytearray(data)
        for r0 in range(0, len(out), row_len):
            for i in range(colors, row_len):
                out[r0 + i] = (out[r0 + i] + out[r0 + i - colors]) & 0xFF
        return bytes(out)
    if predictor < 10:
        return None
    bpp = max(1, (colors * bpc + 7) // 8)
    row_len = (columns * colors * bpc + 7) // 8
    if row_len == 0 or len(data) % (row_len + 1):
        return None
    out = bytearray()
    prev = bytes(row_len)
    p = 0
    while p < len(data):
        tag = data[p]
        row = bytearray(data[p + 1 : p + 1 + row_len])
        p += 1 + row_len
        if tag == 0:
            pass
        elif tag == 1:  # Sub
            for i in range(bpp, row_len):
                row[i] = (row[i] + row[i - bpp]) & 0xFF
        elif tag == 2:  # Up
            for i in range(row_len):
                row[i] = (row[i] + prev[i]) & 0xFF
        elif tag == 3:  # Average
            for i in range(row_len):
                left = row[i - bpp] if i >= bpp else 0
                row[i] = (row[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif tag == 4:  # Paeth
            for i in range(row_len):
                a = row[i - bpp] if i >= bpp else 0
                bb = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                pa_, pb, pc = abs(bb - c), abs(a - c), abs(a + bb - 2 * c)
                pred = a if pa_ <= pb and pa_ <= pc else (bb if pb <= pc else c)
                row[i] = (row[i] + pred) & 0xFF
        else:
            return None  # unknown PNG filter tag
        out += row
        prev = row
    return bytes(out)


def _decode_stream_filters(val: dict, data: bytes) -> bytes | None:
    """Apply a stream's /Filter (+ /DecodeParms): FlateDecode only,
    optionally followed by a predictor. Other filters refuse."""
    filt = val.get("Filter")
    if filt is None:
        return data
    if filt != ("name", "FlateDecode"):
        return None
    try:
        data = zlib.decompress(data)
    except zlib.error:
        return None
    parms = val.get("DecodeParms")
    if parms is None:
        return data
    if not isinstance(parms, dict):
        return None
    pred = parms.get("Predictor", 1)
    cols = parms.get("Columns", 1)
    colors = parms.get("Colors", 1)
    bpc = parms.get("BitsPerComponent", 8)
    if not all(isinstance(x, int) for x in (pred, cols, colors, bpc)):
        return None
    return _undo_predictor(data, pred, cols, colors, bpc)


def _parse_xref_stream_section(
    b: bytes, xref_at: int
) -> tuple[dict[int, object], dict] | None:
    """One cross-reference STREAM (PDF 1.5+, §7.5.8) at ``xref_at``
    → (obj id → entry, trailer). The stream dict doubles as the
    trailer (/Root /Size /Prev /Encrypt). Entry types: 0 free
    (skipped), 1 direct offset, 2 compressed-in-ObjStm; unknown
    types are references to null per §7.5.8.3 (skipped)."""
    loaded = _load_object_at(b, xref_at)
    if loaded is None:
        return None
    _num, val, data = loaded
    if not isinstance(val, dict) or data is None:
        return None
    if val.get("Type") != ("name", "XRef"):
        return None
    data = _decode_stream_filters(val, data)
    if data is None:
        return None
    w = val.get("W")
    size = val.get("Size")
    if not (isinstance(w, list) and len(w) == 3 and isinstance(size, int)):
        return None
    if not all(isinstance(x, int) and 0 <= x <= 8 for x in w):
        return None
    index = val.get("Index", [0, size])
    if not (
        isinstance(index, list)
        and len(index) >= 2
        and len(index) % 2 == 0
        and all(isinstance(x, int) and x >= 0 for x in index)
    ):
        return None
    ew = sum(w)
    if ew == 0 or len(data) % ew:
        return None
    n_entries = len(data) // ew
    if sum(index[i + 1] for i in range(0, len(index), 2)) != n_entries:
        return None
    entries: dict[int, object] = {}
    pos = 0
    for i in range(0, len(index), 2):
        start, count = index[i], index[i + 1]
        for k in range(count):
            fields = []
            for width in w:
                fields.append(
                    int.from_bytes(data[pos : pos + width], "big")
                )
                pos += width
            etype = fields[0] if w[0] else 1  # w1==0 → type defaults 1
            if etype == 1:
                entries[start + k] = fields[1]
            elif etype == 2:
                entries[start + k] = ("objstm", fields[1], fields[2])
            # type 0 (free) and unknown types: no entry (null object)
    return entries, dict(val)


def _parse_xref_section(
    b: bytes, xref_at: int
) -> tuple[dict[int, object], dict] | None:
    """One cross-reference section at ``xref_at``: a classic table
    (``xref`` keyword) or a cross-reference STREAM (PDF 1.5+). A
    classic trailer carrying /XRefStm (hybrid-reference file,
    §7.5.8.4) merges that stream's entries into the section — the
    classic table's explicit entries win, the stream supplies the
    object-stream-resident objects the table marks free."""
    if xref_at >= len(b):
        return None
    if not b[xref_at:].lstrip().startswith(b"xref"):
        return _parse_xref_stream_section(b, xref_at)
    r = _Objs(b, b.index(b"xref", xref_at) + 4)
    offsets: dict[int, object] = {}
    while True:
        r._skip_ws()
        if b[r.p : r.p + 7] == b"trailer":
            r.p += 7
            trailer = r.value()
            if not isinstance(trailer, dict):
                return None
            xs = trailer.get("XRefStm")
            if xs is not None:
                if not isinstance(xs, int):
                    return None
                sub = _parse_xref_stream_section(b, xs)
                if sub is None:
                    return None
                for k, v in sub[0].items():
                    offsets.setdefault(k, v)
            return offsets, trailer
        m2 = re.match(rb"(\d+)\s+(\d+)", b[r.p :])
        if not m2:
            return None
        start, count = int(m2.group(1)), int(m2.group(2))
        r.p += m2.end()
        for k in range(count):
            r._skip_ws()
            m3 = re.match(rb"(\d{10})\s+(\d{5})\s+([nf])", b[r.p :])
            if not m3:
                return None
            if m3.group(3) == b"n":
                offsets[start + k] = int(m3.group(1))
            r.p += m3.end()


def _parse_xref(b: bytes) -> tuple[dict[int, object], dict] | None:
    """startxref → the NEWEST xref section, then the /Prev chain of
    an incrementally-updated document (r11): each earlier section
    fills in only the object ids the newer sections did not already
    define (the update wins — a reader that takes the original object
    serves STALE content and fails the oracle). Sections may be
    classic tables OR cross-reference streams, mixed freely along the
    chain. The newest trailer is authoritative for /Root; /Encrypt
    anywhere in the chain refuses; /Prev cycles refuse."""
    tail = b[-256:]
    m = None
    for m in re.finditer(rb"startxref\s+(\d+)", tail):
        pass  # keep the LAST startxref (incremental updates)
    if m is None:
        return None
    xref_at = int(m.group(1))
    seen: set[int] = set()
    offsets: dict[int, object] = {}
    newest_trailer: dict | None = None
    while True:
        if xref_at in seen or len(seen) > 64:
            return None  # /Prev cycle or absurd chain
        seen.add(xref_at)
        sec = _parse_xref_section(b, xref_at)
        if sec is None:
            return None
        sec_offsets, trailer = sec
        for k, v in sec_offsets.items():
            offsets.setdefault(k, v)  # newer sections win
        if newest_trailer is None:
            newest_trailer = trailer
        if "Encrypt" in trailer:
            newest_trailer = dict(newest_trailer)
            newest_trailer["Encrypt"] = trailer["Encrypt"]
        prev = trailer.get("Prev")
        if prev is None:
            return offsets, newest_trailer
        if not isinstance(prev, int):
            return None
        xref_at = prev


def _crypt_apply(crypt: tuple, num: int, gen: int, data: bytes) -> bytes:
    """Decrypt one object's bytes per the handler method. AES
    padding violations raise ValueError (→ honest refusal)."""
    key, method = crypt
    if method == "rc4":
        return decrypt_object_bytes(key, num, gen, data)
    out = decrypt_object_bytes_aes(key, num, gen, data)
    if out is None:
        raise ValueError("pdf: bad AES payload")
    return out


def _decrypt_value(val, crypt: tuple, num: int, gen: int):
    """Recursively decrypt literal/hex strings inside a direct
    object's value (PDF encryption covers strings as well as
    streams; integers, names, booleans pass through)."""
    if isinstance(val, tuple) and val[0] == "str":
        return ("str", _crypt_apply(crypt, num, gen, val[1]))
    if isinstance(val, list):
        return [_decrypt_value(v, crypt, num, gen) for v in val]
    if isinstance(val, dict):
        return {
            k: _decrypt_value(v, crypt, num, gen) for k, v in val.items()
        }
    return val


def _load_object_at(
    b: bytes,
    off: int,
    offsets: dict | None = None,
    crypt: tuple | None = None,
) -> tuple[int, object, bytes | None] | None:
    """Parse the ``N G obj`` at a direct byte offset → (obj num,
    value, raw stream bytes | None), or None on malformation. An
    indirect /Length resolves through ``offsets`` when provided
    (an xref stream's dict values must be direct — §7.5.8.2 — so
    the bootstrap path passes None). With ``crypt`` (the file
    encryption key), stream bytes and strings are RC4-decrypted
    with the per-object key — except cross-reference streams,
    which are never encrypted by spec."""
    if off < 0 or off >= len(b):
        return None
    m = re.match(rb"(\d+)\s+(\d+)\s+obj\b", b[off:])
    if not m:
        return None
    r = _Objs(b, off + m.end())
    try:
        val = r.value()
        r._skip_ws()
    except ValueError:
        return None
    data = None
    if b[r.p : r.p + 6] == b"stream":
        if not isinstance(val, dict):
            return None
        q = r.p + 6
        if b[q : q + 2] == b"\r\n":
            q += 2
        elif b[q : q + 1] == b"\n":
            q += 1
        ln = val.get("Length")
        if isinstance(ln, tuple) and ln[0] == "ref":
            if offsets is None:
                return None
            try:
                ln = _load_object(b, offsets, ln[1])[0]
            except ValueError:
                return None
        if not isinstance(ln, int) or ln < 0 or q + ln > len(b):
            return None
        data = b[q : q + ln]
        tail = b[q + ln :].lstrip(b"\r\n")
        if not tail.startswith(b"endstream"):
            return None
    num, gen = int(m.group(1)), int(m.group(2))
    if crypt is not None and (
        not isinstance(val, dict) or val.get("Type") != ("name", "XRef")
    ):
        val = _decrypt_value(val, crypt, num, gen)
        if data is not None:
            data = _crypt_apply(crypt, num, gen, data)
    return num, val, data


def _load_object(
    b: bytes,
    offsets: dict,
    num: int,
    cache: dict | None = None,
    crypt: tuple | None = None,
):
    """Object ``num`` via its xref entry: a direct offset validates
    the ``N G obj`` header; an ("objstm", container, idx) entry
    (PDF 1.5 compressed object, §7.5.7) loads the container object
    stream — FlateDecode + /N /First header of (objnum, offset)
    pairs — and parses the idx-th embedded object. Returns
    (value, stream_bytes | None); objects inside object streams
    carry no stream by spec."""
    entry = offsets.get(num)
    if entry is None:
        raise ValueError("pdf: missing object")
    if isinstance(entry, int):
        loaded = _load_object_at(b, entry, offsets, crypt)
        if loaded is None or loaded[0] != num:
            raise ValueError("pdf: xref offset does not hit the object")
        return loaded[1], loaded[2]
    _tag, cnum, idx = entry
    if cache is not None and cnum in cache:
        pairs, body, first = cache[cnum]
    else:
        centry = offsets.get(cnum)
        if not isinstance(centry, int):
            raise ValueError("pdf: object stream must be a direct object")
        # the container stream decrypts as a direct object; the
        # objects INSIDE it are not separately encrypted by spec
        cval, cdata = _load_object(b, offsets, cnum, cache, crypt)
        if not isinstance(cval, dict) or cdata is None:
            raise ValueError("pdf: bad object stream container")
        if cval.get("Type") != ("name", "ObjStm"):
            raise ValueError("pdf: container is not /Type /ObjStm")
        n, first = cval.get("N"), cval.get("First")
        if not (isinstance(n, int) and isinstance(first, int)):
            raise ValueError("pdf: bad /N or /First")
        body = _decode_stream_filters(cval, cdata)
        if body is None or first > len(body):
            raise ValueError("pdf: bad object stream body")
        hdr = _Objs(body[:first], 0)
        pairs = []
        for _ in range(n):
            onum = hdr.value()
            ooff = hdr.value()
            if not (isinstance(onum, int) and isinstance(ooff, int)):
                raise ValueError("pdf: bad object stream header pair")
            pairs.append((onum, ooff))
        if cache is not None:
            cache[cnum] = (pairs, body, first)
    if not 0 <= idx < len(pairs):
        raise ValueError("pdf: object stream index out of range")
    onum, ooff = pairs[idx]
    if onum != num:
        raise ValueError("pdf: object stream entry mismatch")
    if first + ooff > len(body):
        raise ValueError("pdf: object stream offset out of range")
    return _Objs(body, first + ooff).value(), None


def _deref(b, offsets, v, cache=None, crypt=None):
    if isinstance(v, tuple) and v[0] == "ref":
        return _load_object(b, offsets, v[1], cache, crypt)[0]
    return v


def _extract_text_ops(
    content: bytes, fonts: dict[str, FontDecoder] | None = None
) -> list[bytes] | None:
    """Content-stream walk: every string SHOWN by Tj / TJ / ' / ",
    in operator order. TJ arrays contribute the concatenation of
    their string elements (kerning numbers are positioning, not
    text). Strings used by non-showing operators are ignored.

    With ``fonts`` (r12), Tf operators select the current
    FontDecoder and shown strings are decoded through it to UTF-8
    text bytes — a Tf naming a font absent from the page resources,
    or a shown code undefined under the current font's encoding,
    refuses the document. Text shown before any Tf passes through
    as raw bytes (the no-encoding-info disposition)."""
    r = _Objs(content, 0)
    stack: list = []
    out: list[bytes] = []
    cur: FontDecoder | None = None
    while True:
        r._skip_ws()
        if r.p >= len(content):
            return out
        c = content[r.p]
        if (
            c in b"([</+-."
            or 0x30 <= c <= 0x39
            or content[r.p : r.p + 2] == b"<<"
        ):
            try:
                stack.append(r.value())
            except ValueError:
                return None
            continue
        m = re.match(rb"[A-Za-z'\"][A-Za-z0-9*'\"]*", content[r.p :])
        if not m:
            return None
        op = m.group(0)
        r.p += m.end()
        if op == b"Tf" and fonts is not None:
            if len(stack) < 2 or not (
                isinstance(stack[-2], tuple) and stack[-2][0] == "name"
            ):
                return None
            cur = fonts.get(stack[-2][1])
            if cur is None:
                return None  # font not in the page's resources
        if op in (b"Tj", b"'", b'"'):
            if not stack or not (
                isinstance(stack[-1], tuple) and stack[-1][0] == "str"
            ):
                return None
            shown = stack[-1][1]
            if cur is not None:
                shown = cur.decode(shown)
                if shown is None:
                    return None  # code undefined under this font
            out.append(shown)
        elif op == b"TJ":
            if not stack or not isinstance(stack[-1], list):
                return None
            buf = bytearray()
            for el in stack[-1]:
                if isinstance(el, tuple) and el[0] == "str":
                    buf += el[1]
                elif not isinstance(el, (int, float)):
                    return None
            shown = bytes(buf)
            if cur is not None:
                shown = cur.decode(shown)
                if shown is None:
                    return None
            out.append(shown)
        stack.clear() if op in (b"Tj", b"TJ", b"'", b'"') else None
        if op not in (b"Tj", b"TJ", b"'", b'"'):
            stack.clear()  # other operators consume their operands


def _setup_decryption(
    b: bytes, offsets: dict, trailer: dict
) -> tuple[bytes, str] | None:
    """Resolve /Encrypt and derive the file key for the standard
    security handler with an EMPTY user password (the crawled-PDF
    norm: owner-password restrictions only) → (key, method).
    Supports /V 1 /R 2 (RC4-40), /V 2 /R 3 (RC4, /Length ≤ 128),
    and /V 4 /R 4 with a /StdCF crypt filter of /CFM /AESV2
    (AES-128-CBC) or /CFM /V2 (RC4), honoring /EncryptMetadata.
    Refuses — never guesses — for other handlers, /V 5+ (AES-256),
    /Identity or per-object crypt filters, a missing /ID, or a
    failing user-password check (a REAL user password protects the
    content)."""
    try:
        enc = _deref(b, offsets, trailer.get("Encrypt"))
    except ValueError:
        return None
    if not isinstance(enc, dict):
        return None
    if enc.get("Filter") != ("name", "Standard"):
        return None
    v, r = enc.get("V"), enc.get("R")
    if (v, r) not in ((1, 2), (2, 3), (4, 4)):
        return None
    length = enc.get("Length", 40)
    if not isinstance(length, int) or length % 8 or not 40 <= length <= 128:
        return None
    nbytes = 5 if r == 2 else length // 8
    method = "rc4"
    encrypt_metadata = True
    if v == 4:
        em = enc.get("EncryptMetadata", True)
        if not isinstance(em, bool):
            return None
        encrypt_metadata = em
        cf = enc.get("CF")
        stdcf = cf.get("StdCF") if isinstance(cf, dict) else None
        if not isinstance(stdcf, dict):
            return None
        cfm = stdcf.get("CFM")
        if cfm == ("name", "AESV2"):
            method = "aesv2"
            nbytes = 16  # AESV2 is AES-128
        elif cfm != ("name", "V2"):
            return None  # Identity / AESV3 / custom: refuse
        # both stream and string filters must be the StdCF
        for k in ("StmF", "StrF"):
            if enc.get(k, ("name", "Identity")) != ("name", "StdCF"):
                return None
    o, u, p = enc.get("O"), enc.get("U"), enc.get("P")
    if not (
        isinstance(o, tuple) and o[0] == "str" and len(o[1]) >= 32
        and isinstance(u, tuple) and u[0] == "str" and len(u[1]) >= 32
        and isinstance(p, int)
    ):
        return None
    ident = trailer.get("ID")
    if not (
        isinstance(ident, list)
        and ident
        and isinstance(ident[0], tuple)
        and ident[0][0] == "str"
    ):
        return None
    key = verify_empty_user_password(
        o[1][:32], u[1][:32], p, ident[0][1], r, nbytes, encrypt_metadata
    )
    if key is None:
        return None
    return key, method


def _build_fontmap(
    b: bytes,
    offsets: dict,
    page: dict,
    pages: dict,
    cache: dict,
    crypt: tuple | None,
) -> dict[str, FontDecoder] | None:
    """Page /Resources /Font → {name: FontDecoder}, or None on a
    refusal (composite /Type0 font, out-of-contract base-encoding
    name, malformed /Differences or ToUnicode CMap). /Resources is
    inheritable — a page without one falls back to the /Pages node
    (spec §7.7.3.4). Missing resources or fonts yield an empty map:
    text then passes through as raw bytes (no-encoding-info
    disposition) unless a Tf is executed, which refuses."""
    res = _deref(b, offsets, page.get("Resources"), cache, crypt)
    if res is None:
        res = _deref(b, offsets, pages.get("Resources"), cache, crypt)
    if res is None:
        return {}
    if not isinstance(res, dict):
        return None
    fdict = _deref(b, offsets, res.get("Font"), cache, crypt)
    if fdict is None:
        return {}
    if not isinstance(fdict, dict):
        return None
    out: dict[str, FontDecoder] = {}
    for fname, fref in fdict.items():
        font = _deref(b, offsets, fref, cache, crypt)
        if not isinstance(font, dict):
            return None
        if _deref(b, offsets, font.get("Subtype"), cache, crypt) == (
            "name",
            "Type0",
        ):
            return None  # composite (CID) fonts: out of contract
        table = None
        enc = _deref(b, offsets, font.get("Encoding"), cache, crypt)
        if enc is not None:
            if isinstance(enc, tuple) and enc[0] == "name":
                table = base_encoding_table(enc[1])
                if table is None:
                    return None  # unknown named encoding
            elif isinstance(enc, dict):
                base = _deref(
                    b, offsets, enc.get("BaseEncoding"), cache, crypt
                )
                if base is None:
                    # no base: only /Differences-defined codes map;
                    # anything else refuses if shown
                    table = [None] * 256
                elif isinstance(base, tuple) and base[0] == "name":
                    table = base_encoding_table(base[1])
                    if table is None:
                        return None
                else:
                    return None
                diffs = _deref(
                    b, offsets, enc.get("Differences"), cache, crypt
                )
                if diffs is not None:
                    if not isinstance(diffs, list):
                        return None
                    if apply_differences(table, diffs) is None:
                        return None
            else:
                return None
        tou = None
        tref = font.get("ToUnicode")
        if tref is not None:
            if not (isinstance(tref, tuple) and tref[0] == "ref"):
                return None
            tdict, tdata = _load_object(b, offsets, tref[1], cache, crypt)
            if tdata is None:
                return None
            tdata = _decode_stream_filters(tdict, tdata)
            if tdata is None:
                return None
            tou = parse_tounicode(tdata)
            if tou is None:
                return None
        out[fname] = FontDecoder(table, tou)
    return out


def parse_pdf_text(b: bytes) -> list[list[bytes]] | None:
    """bytes → per-page lists of shown text strings (operator order),
    or None. Walks header → startxref → classic xref → trailer /Root
    → /Pages → /Kids → each page's /Contents stream (FlateDecode
    undone via stdlib zlib), then tokenizes the content stream for
    Tj/TJ/'/\" show operators. Refusals per the module docstring."""
    try:
        return _parse_pdf_strict(b)
    except (
        ValueError,
        KeyError,
        IndexError,
        TypeError,
        zlib.error,
        # a crafted /Length (or object-stream) reference cycle must
        # refuse, not blow the interpreter stack into the Spark task
        RecursionError,
    ):
        return None


def _parse_pdf_strict(b: bytes) -> list[list[bytes]] | None:
    if not b.startswith(b"%PDF-"):
        return None
    xr = _parse_xref(b)
    if xr is None:
        return None
    offsets, trailer = xr
    crypt: tuple | None = None
    if "Encrypt" in trailer:
        crypt = _setup_decryption(b, offsets, trailer)
        if crypt is None:
            return None  # unsupported handler / real user password
    root = trailer.get("Root")
    if not (isinstance(root, tuple) and root[0] == "ref"):
        return None
    cache: dict = {}  # decoded object-stream containers, per document
    catalog = _load_object(b, offsets, root[1], cache, crypt)[0]
    if _deref(b, offsets, catalog.get("Type"), cache) != ("name", "Catalog"):
        return None
    pages = _deref(b, offsets, catalog.get("Pages"), cache, crypt)
    if not isinstance(pages, dict):
        return None
    kids = _deref(b, offsets, pages.get("Kids"), cache, crypt)
    count = _deref(b, offsets, pages.get("Count"), cache, crypt)
    if not isinstance(kids, list) or count != len(kids):
        return None
    doc: list[list[bytes]] = []
    for kid in kids:
        if not (isinstance(kid, tuple) and kid[0] == "ref"):
            return None
        page = _load_object(b, offsets, kid[1], cache, crypt)[0]
        if not isinstance(page, dict) or page.get("Type") != ("name", "Page"):
            return None
        cref = page.get("Contents")
        if not (isinstance(cref, tuple) and cref[0] == "ref"):
            return None
        cdict, data = _load_object(b, offsets, cref[1], cache, crypt)
        if data is None:
            return None
        data = _decode_stream_filters(cdict, data)
        if data is None:
            return None  # DCT/LZW/ASCII85/filter arrays: refuse
        fonts = _build_fontmap(b, offsets, page, pages, cache, crypt)
        if fonts is None:
            return None
        ops = _extract_text_ops(data, fonts)
        if ops is None:
            return None
        doc.append(ops)
    return doc


# ---------------------------------------------------------------------------
# Spark plumbing
# ---------------------------------------------------------------------------

PDF_ASSET_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("payload", BinaryType(), True),
    ]
)

PDF_STATS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("page_idx", IntegerType()),
        StructField("n_pages", IntegerType()),
        StructField("n_text_ops", IntegerType()),
        StructField("text_len", LongType()),
        StructField("char_sum", LongType()),
    ]
)


def make_pdf_encrypted(doc_id: int, r: int = 2) -> bytes:
    """ENCRYPTED classic document (standard security handler, EMPTY
    user password + an owner password — the restrictions-only shape
    that dominates encrypted PDFs in web crawls): every content
    stream encrypted with its per-object key, /Encrypt dict with
    real /O /U /P values, /ID in the trailer. r=2 → V1 RC4-40,
    r=3 → V2 RC4-128, r=4 → V4 /StdCF /CFM /AESV2 (AES-128-CBC,
    IV-prefixed, PKCS#7). Text state matches the formulas, so the
    shared oracle certifies every decryption path."""
    import hashlib as _hashlib

    n_pages = pdf_n_pages(doc_id)
    nbytes = 5 if r == 2 else 16
    pval = -3904  # print allowed, modification/copy denied
    id0 = _hashlib.md5(b"pdf-id-%d" % doc_id).digest()
    o = compute_o(b"corpus-owner", b"", r, nbytes)
    key = compute_key(b"", o, pval, id0, r, nbytes)
    u = compute_u(key, id0, r)

    kids = " ".join(f"{4 + 2 * p} 0 R" for p in range(n_pages))
    objects: list[bytes] = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        (
            "<< /Type /Pages /Kids [" + kids + "] /Count "
            + str(n_pages) + " >>"
        ).encode(),
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
    ]
    for p in range(n_pages):
        objects.append(
            (
                "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
                "/Resources << /Font << /F1 3 0 R >> >> /Contents "
                + str(5 + 2 * p) + " 0 R >>"
            ).encode()
        )
        raw = _content_stream(doc_id, p)
        if (doc_id + p) % 2 == 0:
            stored = zlib.compress(raw, 6)
            head = (
                "<< /Length %d /Filter /FlateDecode >>"
            )
        else:
            stored = raw
            head = "<< /Length %d >>"
        num = 5 + 2 * p
        if r == 4:
            iv = _hashlib.md5(b"iv-%d-%d" % (doc_id, num)).digest()
            stored = aes128_cbc_encrypt(
                object_key_aes(key, num, 0), iv, stored
            )
        else:
            stored = decrypt_object_bytes(key, num, 0, stored)
        objects.append(
            (head % len(stored)).encode()
            + b"\nstream\n" + stored + b"\nendstream"
        )
    enc_id = len(objects) + 1
    if r == 2:
        enc_body = (
            "<< /Filter /Standard /V 1 /R 2 /Length 40 /P " + str(pval)
            + " /O <" + o.hex() + "> /U <" + u.hex() + "> >>"
        )
    elif r == 3:
        enc_body = (
            "<< /Filter /Standard /V 2 /R 3 /Length 128 /P " + str(pval)
            + " /O <" + o.hex() + "> /U <" + u.hex() + "> >>"
        )
    else:
        enc_body = (
            "<< /Filter /Standard /V 4 /R 4 /Length 128 /P " + str(pval)
            + " /CF << /StdCF << /CFM /AESV2 /AuthEvent /DocOpen"
            + " /Length 16 >> >> /StmF /StdCF /StrF /StdCF"
            + " /O <" + o.hex() + "> /U <" + u.hex() + "> >>"
        )
    objects.append(enc_body.encode())
    out = bytearray(b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n")
    offsets = [0]
    for i, body in enumerate(objects, start=1):
        offsets.append(len(out))
        out += str(i).encode() + b" 0 obj\n" + body + b"\nendobj\n"
    xref_at = len(out)
    out += b"xref\n0 " + str(len(objects) + 1).encode() + b"\n"
    out += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        out += ("%010d 00000 n \n" % off).encode()
    out += (
        b"trailer\n<< /Size " + str(len(objects) + 1).encode()
        + b" /Root 1 0 R /Encrypt " + str(enc_id).encode()
        + b" 0 R /ID [<" + id0.hex().encode() + b"> <"
        + id0.hex().encode() + b">] >>\nstartxref\n"
        + str(xref_at).encode() + b"\n%%EOF\n"
    )
    return bytes(out)


# ---------------------------------------------------------------------------
# encoded-font flavor (r12)
# ---------------------------------------------------------------------------

#: AGL names for U+00E0+k, k = 0..25 — even k entries go into the
#: /Differences array by NAME, odd k by the algorithmic /uniXXXX
#: form, so both glyph-name resolution paths are oracle-certified.
_ENC_GLYPHS = (
    "agrave", "aacute", "acircumflex", "atilde", "adieresis",
    "aring", "ae", "ccedilla", "egrave", "eacute", "ecircumflex",
    "edieresis", "igrave", "iacute", "icircumflex", "idieresis",
    "eth", "ntilde", "ograve", "oacute", "ocircumflex", "otilde",
    "odieresis", "divide", "oslash", "ugrave",
)


def _differences_array() -> str:
    """Two runs (restart at code 141) covering codes 128..153 →
    U+00E0..U+00F9; a reader that mishandles run restarts or either
    glyph-name form fails the oracle."""
    parts: list[str] = []
    for k in range(26):
        if k in (0, 13):
            parts.append(str(128 + k))
        parts.append(
            "/" + (_ENC_GLYPHS[k] if k % 2 == 0 else "uni%04X" % (0xE0 + k))
        )
    return "[" + " ".join(parts) + "]"


#: bfchar pairs + a contiguous bfrange + the bracketed
#: destination-array bfrange form, mapping BOTH code regions
#: (0x80+k and 0xE0+k) to U+0100+k — deliberately DISAGREEING with
#: the /Differences+WinAnsi decode (U+00E0+k) so the oracle
#: certifies ToUnicode precedence.
_TOUNICODE_CMAP = (
    b"/CIDInit /ProcSet findresource begin\n"
    b"12 dict begin\nbegincmap\n"
    b"/CMapName /Adobe-Identity-UCS def\n/CMapType 2 def\n"
    b"1 begincodespacerange\n<00> <FF>\nendcodespacerange\n"
    b"2 beginbfchar\n<80> <0100>\n<E0> <0100>\nendbfchar\n"
    b"3 beginbfrange\n"
    b"<81> <99> <0101>\n"
    b"<E1> <E3> [<0101> <0102> <0103>]\n"
    b"<E4> <F9> <0104>\n"
    b"endbfrange\nendcmap\n"
    b"CMapName currentdict /CMap defineresource pop\nend end\n"
)


def _content_stream_encoded(doc_id: int, p: int) -> bytes:
    """Same line/kerning discipline as _content_stream, but the
    shown bytes are font CODES: even lines in the /Differences
    region (0x80+k), odd lines in the WinAnsi-base region (0xE0+k)
    — an extractor ignoring either half of the encoding dict fails
    the oracle."""
    ops = [b"BT", b"/F1 12 Tf", b"72 720 Td"]
    for ln in range(pdf_n_lines(doc_id, p)):
        txt = pdf_line_text(doc_id, p, ln)
        basec = 0x80 if ln % 2 == 0 else 0xE0
        codes = bytes(basec + (ord(ch) - 97) for ch in txt)
        if ln % 2 == 0:
            ops.append(b"(" + codes + b") Tj")
        else:
            cut = max(1, len(codes) // 2)
            kern = -20 - ((doc_id + ln) % 60)
            ops.append(
                b"[(" + codes[:cut] + b") " + str(kern).encode()
                + b" (" + codes[cut:] + b")] TJ"
            )
        ops.append(b"0 -14 Td")
    ops.append(b"ET")
    return b"\n".join(ops)


def make_pdf_encoded(doc_id: int, tounicode: bool = False) -> bytes:
    """Classic-layout document whose font carries REAL encoding
    info (r12, the ninth corpus flavor): an /Encoding dictionary
    with /BaseEncoding /WinAnsiEncoding plus a two-run /Differences
    array (named glyphs on even slots, /uniXXXX on odd), text
    written as font codes decoding to U+00E0+k — every char 2-byte
    UTF-8, so text_len doubles and char_sum shifts by +258/char
    vs the ASCII formulas. With ``tounicode``, a /ToUnicode CMap
    stream overrides BOTH code regions to U+0100+k (+227/char):
    extraction must prefer ToUnicode over the encoding tables or
    the hash fails."""
    n_pages = pdf_n_pages(doc_id)
    tou_obj = 3 + 2 * n_pages + 1  # first id after the content objs
    font = (
        "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
        "/Encoding << /Type /Encoding /BaseEncoding /WinAnsiEncoding "
        "/Differences " + _differences_array() + " >>"
        + (f" /ToUnicode {tou_obj} 0 R" if tounicode else "")
        + " >>"
    ).encode()
    tail = None
    if tounicode:
        tail = [
            ("<< /Length %d >>" % len(_TOUNICODE_CMAP)).encode()
            + b"\nstream\n" + _TOUNICODE_CMAP + b"\nendstream"
        ]
    return _make_pdf_base(
        doc_id,
        stale_last=False,
        font_body=font,
        tail_objects=tail,
        content_fn=_content_stream_encoded,
    )[0]


def make_pdf_any(doc_id: int) -> bytes:
    """The corpus flavor split (doc_id % 12, falling back to % 6):
    6 → RC4-encrypted R2 classic, 9 → RC4-encrypted R3 classic
    (empty user password — the crawled restrictions-only shape),
    10 → encoded-font classic (r12: /BaseEncoding /WinAnsiEncoding
    + /Differences; doc_id % 24 == 22 adds an overriding /ToUnicode
    CMap — text decodes to non-ASCII, stats shift per the UTF-8
    formulas in the oracle);
    otherwise by doc_id % 6: 0 classic PDF 1.4, 1/4 PDF 1.5
    xref-stream + object-stream (1 = PNG-predicted rows + split
    /Index, 4 = plain rows), 2 incrementally updated with a classic
    update table, 3 hybrid-reference (classic + /XRefStm), 5
    incrementally updated with an xref-STREAM update section (mixed
    chain). Final text state is identical in every flavor, so one
    formula oracle certifies all eight walks."""
    m12 = doc_id % 12
    if m12 == 6:
        return make_pdf_encrypted(doc_id, r=2)
    if m12 == 9:
        # alternate RC4-128 (R3) and AES-128 (R4 /AESV2) slots
        return make_pdf_encrypted(doc_id, r=3 if doc_id % 24 == 9 else 4)
    if m12 == 10:
        # encoded-font flavor (r12): /Differences + WinAnsi base;
        # every second slot adds an overriding /ToUnicode CMap
        return make_pdf_encoded(doc_id, tounicode=doc_id % 24 == 22)
    m = doc_id % 6
    if m == 0:
        return make_pdf(doc_id)
    if m in (1, 4):
        return make_pdf_xrefstream(doc_id)
    if m == 2:
        return make_pdf_updated(doc_id)
    if m == 3:
        return make_pdf_hybrid(doc_id)
    return make_pdf_updated_xrstream(doc_id)


def synthesize_pdf(ids: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """One PDF per input row, built worker-side (map_rows), in the
    six-way layout split of make_pdf_any — classic, xref-stream /
    object-stream (with and without predictors), hybrid-reference,
    and both incremental-update chains. Final text state is
    identical across flavors, so the formula oracle certifies every
    walk."""
    return map_rows(ids, PDF_ASSET_SCHEMA, lambda a: [(a, make_pdf_any(a))], id_col)


def pdf_text_stats(assets: DataFrame) -> DataFrame:
    """Parse each PDF and emit one row per page: show-operator count,
    total extracted text length, and the exact byte-sum of the text —
    certifying the xref walk, stream decode, and the Tj/TJ
    concatenation semantics against the oracle's formula expansion.
    Row-linear map_rows, zero shuffle."""

    def pages(did, payload):
        doc = parse_pdf_text(payload) if payload is not None else None
        for p, ops in enumerate(doc or ()):
            text = b"".join(ops)
            yield did, p, len(doc), len(ops), len(text), sum(text)

    return map_rows(assets, PDF_STATS_SCHEMA, pages, "doc_id", "payload")
