"""One LZW engine for the two container formats that use it: GIF
(87a/89a image data) and TIFF 6.0 §13 (Compression=5).

Both share the textbook variable-width scheme: a base alphabet of
``2^min_code_size`` single-byte codes, then CLEAR (``2^min_code_size``)
and EOI (CLEAR + 1), table entries from CLEAR + 2 on, widths growing
from ``min_code_size + 1`` to 12 bits. Each format fixes three rules,
passed in as an :class:`LzwRules` constant (``gif.GIF_LZW``,
``tiff.TIFF_LZW``):

- bit order: GIF packs codes LSB-first, TIFF MSB-first;
- early change: the decoder widens when its table size reaches
  ``2^width - early_change`` — GIF at 2^w (0), TIFF one entry early
  (1: "add code 510, switch to 10 bits");
- table cap: GIF resets at 4096 entries; TIFF's encoder must emit
  CLEAR before code 4094 is used.

Code widths come from an explicit SIMULATION of the decoder's table
growth (the decoder adds one entry after every code it reads except
the first after a clear, and widens per the early-change rule).
Tracking the encoder's own ``next_code`` instead is the classic trap:
the two counters drift by one at the final data code, so a table that
hits the widening size exactly on the last add makes the decoder read
EOI one bit wider than the encoder wrote it — found by hypothesis
(tests/test_codec_properties.py), reproduced at min_code_size=2 with
a 12-symbol input.
"""

from __future__ import annotations

from functools import lru_cache
from typing import NamedTuple


class LzwRules(NamedTuple):
    msb_first: bool
    early_change: int
    max_table: int


def lzw_encode(data: bytes, min_code_size: int, rules: LzwRules) -> bytes:
    """Encode ``data`` (every byte < 2^min_code_size) as one CLEAR-led,
    EOI-terminated code stream under ``rules``."""
    msb_first, early, max_table = rules
    clear, eoi = 1 << min_code_size, (1 << min_code_size) + 1

    out = bytearray()
    acc = 0
    nbits = 0

    # simulated decoder state: table size and current code width
    dec_len = eoi + 1
    dec_width = min_code_size + 1
    first_after_clear = True

    def emit(code: int) -> None:
        """Write ``code`` at the simulated decoder's width, then
        advance the simulation exactly as the decoder will."""
        nonlocal acc, nbits, dec_len, dec_width, first_after_clear
        if msb_first:
            acc = (acc << dec_width) | code
            nbits += dec_width
            while nbits >= 8:
                out.append((acc >> (nbits - 8)) & 0xFF)
                nbits -= 8
            acc &= (1 << nbits) - 1
        else:
            acc |= code << nbits
            nbits += dec_width
            while nbits >= 8:
                out.append(acc & 0xFF)
                acc >>= 8
                nbits -= 8
        if code == clear:
            dec_len = eoi + 1
            dec_width = min_code_size + 1
            first_after_clear = True
        elif code != eoi:
            if first_after_clear:
                first_after_clear = False
            elif dec_len < max_table:
                dec_len += 1
                if dec_len >= (1 << dec_width) - early and dec_width < 12:
                    dec_width += 1

    # dictionary keyed on (prefix code, next byte) int pairs — every
    # table string is exactly (string of its prefix code) + byte, so
    # this is the textbook allocation-free form of the same table
    # (bytes-concat keys were the encode hot spot)
    table: dict[tuple[int, int], int] = {}
    next_code = eoi + 1
    emit(clear)
    cur = -1  # code of the current match; -1 = empty
    for byte in data:
        if cur < 0:
            cur = byte
            continue
        nc = table.get((cur, byte))
        if nc is not None:
            cur = nc
            continue
        emit(cur)
        if next_code < max_table:
            table[(cur, byte)] = next_code
            next_code += 1
        else:
            emit(clear)
            table.clear()
            next_code = eoi + 1
        cur = byte
    if cur >= 0:
        emit(cur)
    emit(eoi)
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF if msb_first else acc & 0xFF)
    return bytes(out)


@lru_cache(maxsize=12)  # one entry per code size a 12-bit stream allows
def _base_table(min_code_size: int) -> tuple[bytes, ...]:
    """Initial decoder table (singles + CLEAR/EOI slots); each decode
    works on its own list copy."""
    return tuple(bytes([i]) for i in range(1 << min_code_size)) + (b"", b"")


def lzw_decode(data: bytes, min_code_size: int, rules: LzwRules) -> bytes | None:
    """Inverse of :func:`lzw_encode` (handles the KwKwK case where a
    code is referenced in the step that defines it). None on a
    truncated stream (no EOI) or an out-of-range code."""
    msb_first, early, max_table = rules
    clear, eoi = 1 << min_code_size, (1 << min_code_size) + 1
    total_bits = len(data) * 8
    pos = 0  # bits consumed
    bitbuf = 0  # unread bits
    bitcnt = 0
    bytepos = 0

    # buffered readers (a per-bit divmod loop was the decode hot
    # spot); both return None when fewer than ``width`` bits remain
    def read_lsb(width: int) -> int | None:
        nonlocal pos, bitbuf, bitcnt, bytepos
        if pos + width > total_bits:
            return None
        while bitcnt < width:
            bitbuf |= data[bytepos] << bitcnt
            bytepos += 1
            bitcnt += 8
        val = bitbuf & ((1 << width) - 1)
        bitbuf >>= width
        bitcnt -= width
        pos += width
        return val

    def read_msb(width: int) -> int | None:
        nonlocal pos, bitbuf, bitcnt, bytepos
        if pos + width > total_bits:
            return None
        while bitcnt < width:
            bitbuf = (bitbuf << 8) | data[bytepos]
            bytepos += 1
            bitcnt += 8
        bitcnt -= width
        val = bitbuf >> bitcnt
        bitbuf &= (1 << bitcnt) - 1
        pos += width
        return val

    read = read_msb if msb_first else read_lsb
    base = _base_table(min_code_size)
    out = bytearray()
    table = list(base)
    width = min_code_size + 1
    prev: bytes | None = None
    while True:
        code = read(width)
        if code is None:
            return None  # truncated stream (no EOI)
        if code == clear:
            table = list(base)
            width = min_code_size + 1
            prev = None
            continue
        if code == eoi:
            return bytes(out)
        if code < len(table):
            entry = table[code]
        elif prev is not None and code == len(table):
            entry = prev + prev[:1]  # KwKwK
        else:
            return None
        out += entry
        if prev is not None and len(table) < max_table:
            table.append(prev + entry[:1])
            if len(table) >= (1 << width) - early and width < 12:
                width += 1
        prev = entry
