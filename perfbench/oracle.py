"""Output checks, computed on one node in plain Python with no Spark
and no code from the engine.

``match_one`` recomputes one query of the filter-and-refine join from
its definition: byte-bigram coverage against every reference, the
per-query top-K, ``partial_ratio`` by a textbook LCS dynamic
programme over every alignment window, and the argmax with the
reference tie-breaks. ``cc_labels`` is a union-find over an edge list.
"""

from __future__ import annotations

from collections import Counter
from decimal import ROUND_HALF_UP, Decimal

NA = "NA"


def _bigrams(term: str) -> list[bytes]:
    b = term.encode()
    return [b[i : i + 2] for i in range(len(b) - 1)]


class RefIndex:
    """Bigram → reference rows, built once per reference list."""

    def __init__(self, refs: list[str]):
        self.refs = refs
        self.lens = [len(r.encode()) for r in refs]
        self.postings: dict[bytes, list[int]] = {}
        for rid, r in enumerate(refs):
            for bg in dict.fromkeys(_bigrams(r)):
                self.postings.setdefault(bg, []).append(rid)

    def coverage(self, query: str) -> dict[int, float]:
        """r_id → coverage for every reference sharing a bigram: query
        bigram positions (with multiplicity) found in the reference's
        bigram set, over the query's bigram count."""
        qb = _bigrams(query)
        hits: Counter[int] = Counter()
        for bg, mult in Counter(qb).items():
            for rid in self.postings.get(bg, ()):
                hits[rid] += mult
        return {rid: h / len(qb) for rid, h in hits.items()}


def _lcs_row(s1: str, t: str) -> list[int]:
    """row[w] = LCS(s1, t[:w]) for every w, by the O(|s1|·|t|) DP."""
    row = [0] * (len(t) + 1)
    for a in s1:
        prev_diag = 0
        for j, b in enumerate(t, 1):
            cur = row[j]
            if a == b:
                row[j] = prev_diag + 1
            elif row[j - 1] > cur:
                row[j] = row[j - 1]
            prev_diag = cur
    return row


def _best_window(s1: str, s2: str) -> float:
    """Max Indel similarity of s1 (not longer) against every growing
    prefix, full-width window and shrinking suffix of s2."""
    len1, len2 = len(s1), len(s2)
    best = 0.0
    for i in range(len2):
        row = _lcs_row(s1, s2[i:])
        widths = []
        if i == 0:
            widths += range(1, min(len1, len2))
        if i <= len2 - len1:
            widths.append(len1)
        if i > len2 - len1:
            widths.append(len2 - i)
        for w in widths:
            best = max(best, 2.0 * row[w] / (len1 + w))
    return best


def partial_ratio(s1: str, s2: str) -> float:
    if len(s1) > len(s2):
        s1, s2 = s2, s1
    if not s1:
        return 100.0 if not s2 else 0.0
    score = _best_window(s1, s2)
    if score != 1.0 and len(s1) == len(s2):
        score = max(score, _best_window(s2, s1))
    return 100.0 * score


def _refined(raw: float, cutoff: int) -> int:
    if raw < cutoff:
        return 0
    return int(Decimal(raw).quantize(Decimal(1), rounding=ROUND_HALF_UP))


def match_one(query: str, index: RefIndex, top_k: int, cutoff: int, memo: dict) -> str:
    """The engine's answer for one query, recomputed from scratch."""
    q_len = len(query.encode())
    cands = [
        (cov, abs(q_len - index.lens[rid]), rid)
        for rid, cov in index.coverage(query).items()
    ]
    # top-K: coverage desc, length difference desc, reference id desc
    cands.sort(reverse=True)
    best = None
    for cov, lendiff, rid in cands[:top_k]:
        pair = (query.lower(), index.refs[rid].lower())
        if pair not in memo:
            memo[pair] = partial_ratio(*pair)
        score = _refined(memo[pair], cutoff)
        if score == 0:
            continue
        # winner: score desc, length difference asc, coverage desc, id desc
        key = (score, -lendiff, cov, rid)
        if best is None or key > best[0]:
            best = (key, rid)
    return NA if best is None else index.refs[best[1]]


def check_matches(
    queries: list[str],
    matches: list[str],
    ref_terms: frozenset,
    sample: list[int],
    index: RefIndex,
    top_k: int,
    cutoff: int,
) -> list[str]:
    """Problems with one pass's ``matches`` (row i answers query i);
    empty when the output is correct."""
    errors = []
    bad = [m for m in matches if m != NA and m not in ref_terms]
    if bad:
        errors.append(f"{len(bad)} matches are not reference terms, e.g. {bad[0]!r}")
    memo: dict = {}
    for i in sample:
        want = match_one(queries[i], index, top_k, cutoff, memo)
        if matches[i] != want:
            errors.append(f"query {i} {queries[i]!r}: got {matches[i]!r}, want {want!r}")
    return errors


def match_quality(matches: list[str], planted: list[str]) -> tuple[float, float]:
    """(recall, precision) of the matches against the planted sources."""
    correct = sum(m == p for m, p in zip(matches, planted))
    answered = sum(m != NA for m in matches)
    return correct / len(planted), correct / max(answered, 1)


def cc_labels(n_vertices: int, edges: list[tuple[int, int]]) -> list[int]:
    """Component label (smallest member id) of every vertex 0..n-1."""
    parent = list(range(n_vertices))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return [find(v) for v in range(n_vertices)]


def check_labels(labels: list[int], edges: list[tuple[int, int]]) -> list[str]:
    want = cc_labels(len(labels), edges)
    diff = [v for v in range(len(labels)) if labels[v] != want[v]]
    if diff:
        v = diff[0]
        return [f"{len(diff)} labels differ from union-find, e.g. vertex {v}: "
                f"got {labels[v]}, want {want[v]}"]
    return []


def _pairs(sizes) -> int:
    return sum(n * (n - 1) // 2 for n in sizes)


def cluster_quality(labels: list[int], planted: list[int]) -> tuple[float, float]:
    """Pairwise (recall, precision) of the components against the
    planted clusters."""
    both = _pairs(Counter(zip(labels, planted)).values())
    return (
        both / max(_pairs(Counter(planted).values()), 1),
        both / max(_pairs(Counter(labels).values()), 1),
    )
