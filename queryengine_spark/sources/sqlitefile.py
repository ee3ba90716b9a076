"""From-scratch SQLite database-file reader (r11) — the embedded
database format that application dumps, mobile-app corpora, and many
published datasets ship in.

Same correctness story as every source in the repo: spec-valid
database files are SYNTHESIZED from arithmetic formulas (through the
stdlib ``sqlite3`` engine — the real encoder, used ONLY at synthesis
time via ``Connection.serialize()``, mirroring the pyarrow/zstd and
pyarrow/snappy encode/decode splits) and parsed back FOR REAL from
the published SQLite file-format document: the 100-byte header, the
``sqlite_master`` catalog walk on page 1, interior/leaf table-b-tree
traversal in key order, cell pointer arrays, 1-9 byte varints,
record serial types (NULL / 1-8-byte big-endian two's-complement
ints / float64 / the 0-and-1 constants / blob / text), the INTEGER
PRIMARY KEY rowid alias (stored as NULL in the record), and payload
OVERFLOW chains (the K/M/X spill arithmetic with 4-byte next-page
links). The DuckDB oracle recomputes every decoded value FROM THE
FORMULAS.

WAL-mode captures (r12): shards ≡ 3 (mod 4) are LIVE-database
captures — main-file bytes followed by the ``-wal`` bytes, the
shape copying a running application's data directory produces. The
reader implements the published WAL format: 32-byte header (magic
selects checksum endianness, version 3007000, page size, salts,
header checksum), 24-byte frame headers, the CUMULATIVE split
checksum over frame header + page content, salt matching, and the
recovery rule that the first invalid frame ends the valid region
(a torn tail is normal in a live capture — the one sanctioned
deviation from this repo's trailing-garbage refusals). Pages from
frames up to the last valid commit override the main file, the
commit's database-size field sets the page count, and a
cleanly-checkpointed capture (empty/absent WAL) reads from the
main file alone.

Honest refusals (None, never a guessed row):
- non-UTF-8 text encodings (header offset 56 ≠ 1);
- WAL structural violations: bad WAL magic or version, page-size
  mismatch, header-checksum mismatch, a database-size field that
  exceeds the capture, or a committed page count reaching pages
  present in neither the main file nor the WAL;
- requested table missing from sqlite_master, or its root hosting
  an index b-tree;
- any structural violation: bad magic, non-power-of-two page size,
  truncated pages, record bytes not exactly consumed, overflow
  chain cycles or out-of-range page numbers.

Reference scope note: the reference engine (rickbeeloo/QueryEngine,
src/heurFuzz.py) reads plain text files; database-file ingestion is
part of the LLM-data-pipeline surface this repo adds beyond the
reference.
"""

from __future__ import annotations

import sqlite3
import struct

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from queryengine_spark.plans import map_rows

SQLITE_MAGIC = b"SQLite format 3\x00"

# ---------------------------------------------------------------------------
# record formulas — mirrored in the oracle SQL
# (queries/archives.py::SOURCE_SQLITE_ROWS_SQL); keep in sync.
# ---------------------------------------------------------------------------
SQL_NROW_BASE, SQL_NROW_MOD = 15, 10  # rows/shard: 15..24
SQL_NAME_BASE, SQL_NAME_MOD = 5, 8  # short name length 5..12
SQL_LONG_BASE, SQL_LONG_MOD = 600, 300  # overflow name length 600..899
#: integer widths exercised by the ``small`` column (serial types
#: 1/2/3/4/6: 1-, 2-, 3-, 4- and 6-byte two's-complement)
SQL_WIDTH_BITS = (6, 14, 22, 30, 46)


def sql_n_rows(s: int) -> int:
    return SQL_NROW_BASE + s % SQL_NROW_MOD


def sql_rowid(s: int, i: int) -> int:
    return s * 100000 + 3 * i + 1


def sql_name_len(s: int, i: int) -> int:
    if i % 7 == 3:  # long row: spills into overflow pages
        return SQL_LONG_BASE + (s + i) % SQL_LONG_MOD
    return SQL_NAME_BASE + (s + 2 * i) % SQL_NAME_MOD


def sql_name(s: int, i: int) -> str:
    return "".join(
        chr(97 + (2 * s + 3 * i + j) % 26)
        for j in range(sql_name_len(s, i))
    )


def sql_score_q(s: int, i: int) -> int:
    """score is stored as the exactly-representable double q/32."""
    return (5 * s + 7 * i) % 2000


def sql_payload(s: int, i: int) -> bytes:
    return bytes(
        (3 * s + 5 * i + 11 * j) % 256 for j in range(2 + (s + i) % 9)
    )


def sql_opt(s: int, i: int) -> int | None:
    return None if i % 4 == 1 else (9 * s + i) % 1000


def sql_small(s: int, i: int) -> int:
    mag = (1 << SQL_WIDTH_BITS[(s + i) % 5]) + i
    return -mag if i % 3 == 0 else mag


def make_sqlite_shard(s: int) -> bytes:
    """One database file: table ``docs`` with formula rows, written
    by the stdlib sqlite3 engine at page_size 512 (small pages force
    multi-level b-trees and overflow chains on the long rows) and
    snapshotted via Connection.serialize()."""
    con = sqlite3.connect(":memory:")
    con.execute("PRAGMA page_size=512")
    con.execute(
        "CREATE TABLE docs (rid INTEGER PRIMARY KEY, name TEXT,"
        " score REAL, payload BLOB, opt INTEGER, small INTEGER)"
    )
    for i in range(sql_n_rows(s)):
        con.execute(
            "INSERT INTO docs VALUES (?,?,?,?,?,?)",
            (
                sql_rowid(s, i),
                sql_name(s, i),
                sql_score_q(s, i) / 32.0,
                sql_payload(s, i),
                sql_opt(s, i),
                sql_small(s, i),
            ),
        )
    con.commit()
    out = bytes(con.serialize())
    con.close()
    return out


def _formula_rows(s: int) -> list[tuple]:
    return [
        (
            sql_rowid(s, i),
            sql_name(s, i),
            sql_score_q(s, i) / 32.0,
            sql_payload(s, i),
            sql_opt(s, i),
            sql_small(s, i),
        )
        for i in range(sql_n_rows(s))
    ]


def make_sqlite_wal_shard(s: int) -> bytes:
    """WAL-mode capture (r12 — the live-database shape): the real
    sqlite3 engine writes a WAL-journal database on disk; the shard
    is MAIN-file bytes + ``-wal`` bytes, exactly what copying a live
    database directory captures. Sub-variants by s % 12:
    3 → no checkpoint (all content in WAL frames, plus an
    overwrite/restore transaction so the same pages appear in
    multiple frames — last commit must win), 7 → a mid-life FULL
    checkpoint (content split between main file and WAL),
    11 → a final TRUNCATE checkpoint (clean capture: WAL empty,
    main file alone carries version-2 headers). Same row formulas,
    so the unchanged oracle certifies the WAL walk."""
    import os
    import tempfile

    rows = _formula_rows(s)
    half = len(rows) // 2
    with tempfile.TemporaryDirectory() as td:
        path = os.path.join(td, "cap.db")
        con = sqlite3.connect(path)
        con.execute("PRAGMA page_size=512")
        con.execute("PRAGMA journal_mode=WAL")
        con.execute("PRAGMA wal_autocheckpoint=0")
        con.execute(
            "CREATE TABLE docs (rid INTEGER PRIMARY KEY, name TEXT,"
            " score REAL, payload BLOB, opt INTEGER, small INTEGER)"
        )
        con.executemany(
            "INSERT INTO docs VALUES (?,?,?,?,?,?)", rows[:half]
        )
        con.commit()
        m = s % 12
        if m == 7:
            con.execute("PRAGMA wal_checkpoint(FULL)").fetchone()
        con.executemany(
            "INSERT INTO docs VALUES (?,?,?,?,?,?)", rows[half:]
        )
        con.commit()
        if m == 3:
            # same pages written in multiple commits: overwrite then
            # restore the formula values — the LAST commit must win
            con.executemany(
                "UPDATE docs SET name=? WHERE rid=?",
                [("overwritten", r[0]) for r in rows[:3]],
            )
            con.commit()
            con.executemany(
                "UPDATE docs SET name=? WHERE rid=?",
                [(r[1], r[0]) for r in rows[:3]],
            )
            con.commit()
        if m == 11:
            con.execute("PRAGMA wal_checkpoint(TRUNCATE)").fetchone()
        with open(path, "rb") as f:
            db = f.read()
        wal = b""
        if os.path.exists(path + "-wal"):
            with open(path + "-wal", "rb") as f:
                wal = f.read()
        con.close()
    return db + wal


def make_sqlite_any(s: int) -> bytes:
    """The corpus flavor split: shards ≡ 3 (mod 4) are WAL-mode
    captures (r12, sub-split by s % 12 — see make_sqlite_wal_shard);
    the rest are rollback-journal serialized snapshots. Same row
    formulas throughout."""
    if s % 4 == 3:
        return make_sqlite_wal_shard(s)
    return make_sqlite_shard(s)


# ---------------------------------------------------------------------------
# reader
# ---------------------------------------------------------------------------


def _varint(b: bytes, p: int) -> tuple[int, int]:
    v = 0
    for k in range(8):
        c = b[p + k]
        v = (v << 7) | (c & 0x7F)
        if not c & 0x80:
            return v, p + k + 1
    return (v << 8) | b[p + 8], p + 9


def _decode_record(payload: bytes) -> list | None:
    """SQLite record format: header-length varint, serial-type
    varints, then the body. Must consume the payload exactly."""
    hlen, p = _varint(payload, 0)
    if hlen > len(payload):
        return None
    types = []
    while p < hlen:
        t, p = _varint(payload, p)
        types.append(t)
    if p != hlen:
        return None
    out = []
    for t in types:
        if t == 0:
            out.append(None)
        elif 1 <= t <= 6:
            n = (1, 2, 3, 4, 6, 8)[t - 1]
            if p + n > len(payload):
                return None
            out.append(int.from_bytes(payload[p : p + n], "big", signed=True))
            p += n
        elif t == 7:
            if p + 8 > len(payload):
                return None
            out.append(struct.unpack(">d", payload[p : p + 8])[0])
            p += 8
        elif t in (8, 9):
            out.append(t - 8)
        elif t >= 12:
            n = (t - 12) // 2 if t % 2 == 0 else (t - 13) // 2
            if p + n > len(payload):
                return None
            raw = payload[p : p + n]
            p += n
            if t % 2 == 0:
                out.append(raw)
            else:
                try:
                    out.append(raw.decode("utf-8"))
                except UnicodeDecodeError:
                    return None
        else:
            return None  # serial types 10/11 are reserved
    if p != len(payload):
        return None  # record bytes not exactly consumed
    return out


#: WAL header magics (file-format doc §WAL): low bit selects the
#: word endianness of the cumulative checksum
_WAL_MAGIC_LE = 0x377F0682
_WAL_MAGIC_BE = 0x377F0683
_WAL_VERSION = 3007000
_U32 = (1 << 32) - 1


def _wal_cksum(
    data: bytes, s1: int, s2: int, big: bool
) -> tuple[int, int]:
    """The WAL cumulative checksum (file-format doc): pairs of
    32-bit words folded as s1 += x0 + s2; s2 += x1 + s1."""
    if len(data) % 8:
        raise ValueError("sqlite wal: checksum input not 8-aligned")
    fmt = ">%dI" % (len(data) // 4) if big else "<%dI" % (len(data) // 4)
    words = struct.unpack(fmt, data)
    for i in range(0, len(words), 2):
        s1 = (s1 + words[i] + s2) & _U32
        s2 = (s2 + words[i + 1] + s1) & _U32
    return s1, s2


def _parse_wal(
    wal: bytes, ps: int
) -> tuple[dict[int, bytes], int | None]:
    """WAL bytes → (page overrides from frames up to the last valid
    commit, that commit's database size in pages). Salt and
    cumulative-checksum validation per the file-format doc; the
    first invalid frame ENDS the valid region (that is the
    documented recovery semantic — a torn tail is normal in a live
    capture, unlike the repo's usual trailing-garbage refusals).
    Raises ValueError on a structurally bad header."""
    if not wal:
        return {}, None
    if len(wal) < 32:
        raise ValueError("sqlite wal: truncated header")
    magic = int.from_bytes(wal[0:4], "big")
    if magic == _WAL_MAGIC_LE:
        big = False
    elif magic == _WAL_MAGIC_BE:
        big = True
    else:
        raise ValueError("sqlite wal: bad magic")
    if int.from_bytes(wal[4:8], "big") != _WAL_VERSION:
        raise ValueError("sqlite wal: unknown format version")
    if int.from_bytes(wal[8:12], "big") != ps:
        raise ValueError("sqlite wal: page-size mismatch")
    salts = wal[16:24]
    s1, s2 = _wal_cksum(wal[:24], 0, 0, big)
    if (s1, s2) != (
        int.from_bytes(wal[24:28], "big"),
        int.from_bytes(wal[28:32], "big"),
    ):
        raise ValueError("sqlite wal: header checksum mismatch")
    overrides: dict[int, bytes] = {}
    pending: dict[int, bytes] = {}
    commit_pages: int | None = None
    p = 32
    fsize = 24 + ps
    while p + fsize <= len(wal):
        pgno = int.from_bytes(wal[p : p + 4], "big")
        dbsz = int.from_bytes(wal[p + 4 : p + 8], "big")
        if wal[p + 8 : p + 16] != salts or pgno == 0:
            break  # end of valid region
        s1, s2 = _wal_cksum(wal[p : p + 8], s1, s2, big)
        s1, s2 = _wal_cksum(wal[p + 24 : p + fsize], s1, s2, big)
        if (s1, s2) != (
            int.from_bytes(wal[p + 16 : p + 20], "big"),
            int.from_bytes(wal[p + 20 : p + 24], "big"),
        ):
            break  # checksum chain broken: end of valid region
        pending[pgno] = wal[p + 24 : p + fsize]
        if dbsz:  # commit frame: its transaction becomes durable
            overrides.update(pending)
            pending.clear()
            commit_pages = dbsz
        p += fsize
    return overrides, commit_pages


class _Db:
    def __init__(self, b: bytes) -> None:
        if len(b) < 512 or b[:16] != SQLITE_MAGIC:
            raise ValueError("sqlite: bad magic")
        ps = int.from_bytes(b[16:18], "big")
        if ps == 1:
            ps = 65536
        if ps < 512 or ps > 65536 or ps & (ps - 1):
            raise ValueError("sqlite: bad page size")
        self.ps = ps
        self.usable = ps - b[20]
        self.overrides: dict[int, bytes] = {}
        if b[18] == 1 and b[19] == 1:
            # rollback-journal database: the file is the whole story
            if len(b) % ps:
                raise ValueError("sqlite: ragged file length")
            self.b = b
            self.n_pages = len(b) // ps
        elif b[18] == 2 and b[19] == 2:
            # WAL-mode capture (r12): MAIN file (length given by the
            # header's database-size field) followed by the ``-wal``
            # bytes; frames up to the last valid commit override
            # their pages, and that commit sets the database size.
            # A cleanly-checkpointed capture has no trailing WAL.
            main_pages = int.from_bytes(b[28:32], "big")
            if main_pages == 0 or main_pages * ps > len(b):
                raise ValueError("sqlite: bad main-file size field")
            self.b = b[: main_pages * ps]
            self.n_pages = main_pages
            overrides, commit_pages = _parse_wal(b[main_pages * ps :], ps)
            self.overrides = overrides
            if commit_pages is not None:
                self.n_pages = commit_pages
            # pages past the main file must come from the WAL
            for num in range(main_pages + 1, self.n_pages + 1):
                if num not in overrides:
                    raise ValueError("sqlite: page hole past main file")
        else:
            raise ValueError("sqlite: unknown read/write version")
        if int.from_bytes(self.page(1)[56:60], "big") != 1:
            raise ValueError("sqlite: non-UTF-8 encoding refuses")

    def page(self, num: int) -> bytes:
        if not 1 <= num <= self.n_pages:
            raise ValueError("sqlite: page number out of range")
        ov = self.overrides.get(num)
        if ov is not None:
            return ov
        return self.b[(num - 1) * self.ps : num * self.ps]

    def _payload(self, pg: bytes, pos: int, plen: int) -> bytes:
        """Inline payload + overflow-chain reassembly for a table
        leaf cell (file-format §b-tree pages: X/M/K spill rules)."""
        u = self.usable
        x = u - 35
        if plen <= x:
            if pos + plen > len(pg):
                raise ValueError("sqlite: inline payload overrun")
            return pg[pos : pos + plen]
        m = ((u - 12) * 32) // 255 - 23
        k = m + (plen - m) % (u - 4)
        inline = k if k <= x else m
        if pos + inline + 4 > len(pg):
            raise ValueError("sqlite: spilled cell overrun")
        out = bytearray(pg[pos : pos + inline])
        nxt = int.from_bytes(pg[pos + inline : pos + inline + 4], "big")
        seen: set[int] = set()
        while nxt:
            if nxt in seen or len(seen) > self.n_pages:
                raise ValueError("sqlite: overflow chain cycle")
            seen.add(nxt)
            op = self.page(nxt)
            nxt = int.from_bytes(op[:4], "big")
            out += op[4 : u]
        if len(out) < plen:
            raise ValueError("sqlite: overflow chain short")
        return bytes(out[:plen])

    def table_rows(self, root: int) -> list[tuple[int, list]]:
        """In-order walk of a TABLE b-tree → [(rowid, values)]."""
        out: list[tuple[int, list]] = []
        stack_guard = [0]

        def walk(pgno: int) -> None:
            stack_guard[0] += 1
            if stack_guard[0] > self.n_pages + 1:
                raise ValueError("sqlite: b-tree cycle")
            pg = self.page(pgno)
            hoff = 100 if pgno == 1 else 0
            ptype = pg[hoff]
            ncells = int.from_bytes(pg[hoff + 3 : hoff + 5], "big")
            if ptype == 0x05:  # interior table page
                ptr_base = hoff + 12
                for c in range(ncells):
                    off = int.from_bytes(
                        pg[ptr_base + 2 * c : ptr_base + 2 * c + 2], "big"
                    )
                    child = int.from_bytes(pg[off : off + 4], "big")
                    walk(child)
                right = int.from_bytes(pg[hoff + 8 : hoff + 12], "big")
                walk(right)
                return
            if ptype != 0x0D:  # not a table leaf: index page or junk
                raise ValueError("sqlite: not a table b-tree page")
            ptr_base = hoff + 8
            for c in range(ncells):
                off = int.from_bytes(
                    pg[ptr_base + 2 * c : ptr_base + 2 * c + 2], "big"
                )
                plen, p = _varint(pg, off)
                rowid, p = _varint(pg, p)
                payload = self._payload(pg, p, plen)
                rec = _decode_record(payload)
                if rec is None:
                    raise ValueError("sqlite: bad record")
                out.append((rowid, rec))

        walk(root)
        return out


def parse_sqlite_table(b: bytes, table: str = "docs") -> list[list] | None:
    """Database bytes → rows of ``table`` in rowid order, with the
    INTEGER-PRIMARY-KEY alias resolved (a NULL first column in the
    record is the rowid). Refusals per the module docstring."""
    try:
        db = _Db(bytes(b))
        # sqlite_master (root page 1): type, name, tbl_name, rootpage, sql
        root = None
        for _rowid, rec in db.table_rows(1):
            if len(rec) >= 5 and rec[0] == "table" and rec[1] == table:
                root = rec[3]
        if not isinstance(root, int):
            return None
        rows = []
        for rowid, rec in db.table_rows(root):
            if rec and rec[0] is None:
                rec = [rowid] + rec[1:]  # INTEGER PRIMARY KEY alias
            rows.append(rec)
        return rows
    except (ValueError, IndexError, struct.error, RecursionError):
        return None


# ---------------------------------------------------------------------------
# Spark plumbing
# ---------------------------------------------------------------------------

SQLITE_ASSET_SCHEMA = StructType(
    [
        StructField("shard_id", LongType(), False),
        StructField("payload", BinaryType(), True),
    ]
)

SQLITE_ROW_SCHEMA = StructType(
    [
        StructField("shard_id", LongType()),
        StructField("rid", LongType()),
        StructField("name_len", IntegerType()),
        StructField("name_sum", LongType()),
        StructField("score_q", LongType()),
        StructField("payload_len", IntegerType()),
        StructField("payload_sum", LongType()),
        StructField("opt", LongType(), True),
        StructField("small", LongType()),
    ]
)


def synthesize_sqlite(ids: DataFrame, id_col: str = "shard_id") -> DataFrame:
    """One serialized SQLite database per input row (map_rows)."""
    return map_rows(ids, SQLITE_ASSET_SCHEMA, lambda a: [(a, make_sqlite_any(a))], id_col)


def sqlite_rows(assets: DataFrame) -> DataFrame:
    """Parse each database with the from-scratch page walk and emit
    one row per table row with exact integer projections (the REAL
    column comes back as score*32 — exactly representable):
    certifies the header, catalog walk, interior/leaf traversal,
    varints, every serial-type family, the rowid alias, and overflow
    reassembly against the formula oracle. Row-linear map_rows,
    zero shuffle."""

    def table_rows(sid, payload):
        recs = parse_sqlite_table(payload) if payload is not None else None
        if recs is None:
            return ()
        # a valid database whose table carries a DIFFERENT
        # column layout walks fine but breaks this 6-way
        # unpack/typing — skip the shard like a parse
        # refusal (no partial rows), don't fail the task
        rows = []
        try:
            for rid, name, score, blob, opt, small in recs:
                nb = name.encode()
                rows.append(
                    (sid, rid, len(nb), sum(nb), int(score * 32), len(blob), sum(blob), opt, small)
                )
        except (ValueError, TypeError, AttributeError):
            return ()
        return rows

    return map_rows(assets, SQLITE_ROW_SCHEMA, table_rows, "shard_id", "payload")
