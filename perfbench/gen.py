"""Input generators: each input set is a pure function of its key,
``"<workload>:<seed>:<pass>"``.

Every random choice comes from ``random.Random(key)``
(string seeds are hashed with SHA-512, so they do not depend on
``PYTHONHASHSEED``), and no ``set`` or ``dict`` of strings is ever
iterated into an order: sets are used for membership tests only and
every sequence is built as a list.
"""

from __future__ import annotations

import hashlib
import json
import random
import string
from dataclasses import dataclass, field

LETTERS = string.ascii_lowercase
#: words per match term, inclusive range
TERM_WORDS = (3, 6)
#: words per dedup document
DOC_WORDS = 24


@dataclass(frozen=True)
class MatchSizes:
    n_queries: int  # query rows
    n_query_terms: int  # distinct dirty query terms
    n_refs: int  # reference rows
    n_ref_terms: int  # distinct reference terms
    zipf_s: float = 1.0  # repeat skew of rows over distinct terms


@dataclass(frozen=True)
class DedupSizes:
    n_chains: int
    chain_len: int
    n_singletons: int


@dataclass
class MatchInputs:
    queries: list[str]  # one row per query, row index = id
    refs: list[str]  # one row per reference, row index = id
    planted: list[str]  # the reference term each query row was made from
    ref_term_set: frozenset = field(repr=False, default=frozenset())


@dataclass
class DedupInputs:
    docs: list[str]  # row index = document id
    cluster: list[int]  # planted cluster of each document


def _word(rng: random.Random, lo: int = 3, hi: int = 8) -> str:
    return "".join(rng.choice(LETTERS) for _ in range(rng.randint(lo, hi)))


def _term(rng: random.Random) -> str:
    return " ".join(_word(rng) for _ in range(rng.randint(*TERM_WORDS)))


def _distinct(rng: random.Random, n: int, make) -> list[str]:
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < n:
        t = make(rng)
        if t not in seen:
            seen.add(t)
            out.append(t)
    return out


def _dirty(rng: random.Random, term: str) -> str:
    """2-4 single-letter edits (substitute, insert, delete, upper-case)
    at positions that are not spaces."""
    chars = list(term)
    for _ in range(rng.randint(2, 4)):
        pos = [i for i, c in enumerate(chars) if c != " "]
        i = rng.choice(pos)
        op = rng.randrange(4)
        if op == 0:
            chars[i] = rng.choice(LETTERS)
        elif op == 1:
            chars.insert(i, rng.choice(LETTERS))
        elif op == 2 and len(pos) > 8:
            del chars[i]
        else:
            chars[i] = chars[i].upper()
    return "".join(chars)


def _zipf_rows(rng: random.Random, n_rows: int, n_terms: int, s: float) -> list[int]:
    """Row → term index: every term once, the rest Zipf-drawn, shuffled."""
    weights = [1.0 / (k + 1) ** s for k in range(n_terms)]
    rows = list(range(n_terms)) + rng.choices(range(n_terms), weights, k=n_rows - n_terms)
    rng.shuffle(rows)
    return rows


def gen_match(key: str, sizes: MatchSizes) -> MatchInputs:
    rng = random.Random(key)
    ref_terms = _distinct(rng, sizes.n_ref_terms, _term)
    sources = rng.sample(ref_terms, sizes.n_query_terms)
    ref_set = frozenset(ref_terms)
    dirty: list[str] = []
    seen: set[str] = set()
    for src in sources:
        while True:
            d = _dirty(rng, src)
            if d not in seen and d not in ref_set:
                break
        seen.add(d)
        dirty.append(d)
    q_rows = _zipf_rows(rng, sizes.n_queries, sizes.n_query_terms, sizes.zipf_s)
    r_rows = _zipf_rows(rng, sizes.n_refs, sizes.n_ref_terms, sizes.zipf_s)
    return MatchInputs(
        queries=[dirty[i] for i in q_rows],
        refs=[ref_terms[i] for i in r_rows],
        planted=[sources[i] for i in q_rows],
        ref_term_set=ref_set,
    )


def _edit_words(rng: random.Random, words: list[str], n: int) -> list[str]:
    out = list(words)
    for i in rng.sample(range(len(out)), n):
        out[i] = _word(rng)
    return out


def gen_dedup(key: str, sizes: DedupSizes) -> DedupInputs:
    """Chains of near-duplicates (each member replaces two words of the
    previous one) plus singletons, in shuffled id order. Words are
    fresh random letters, so documents of different chains share
    only chance trigrams."""
    rng = random.Random(key)
    docs: list[tuple[str, int]] = []
    for c in range(sizes.n_chains):
        words = [_word(rng) for _ in range(DOC_WORDS)]
        for _ in range(sizes.chain_len):
            docs.append((" ".join(words), c))
            words = _edit_words(rng, words, 2)
    for s in range(sizes.n_singletons):
        words = [_word(rng) for _ in range(DOC_WORDS)]
        docs.append((" ".join(words), sizes.n_chains + s))
    rng.shuffle(docs)
    return DedupInputs(docs=[d for d, _ in docs], cluster=[c for _, c in docs])


def digest(*columns: list) -> str:
    """SHA-256 over the canonical JSON of the generated columns."""
    h = hashlib.sha256()
    for col in columns:
        h.update(json.dumps(col, ensure_ascii=False, separators=(",", ":")).encode())
    return h.hexdigest()[:16]
