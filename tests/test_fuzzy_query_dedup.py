"""fuzzy_match runs candidate generation, top-K, refine and the argmax
once per distinct trimmed query term when query terms repeat, and once
per query row otherwise. Both plans must give every query row the
result the independent reference simulator gives it."""

from __future__ import annotations

import random
import re

import pytest

from queryengine_spark.config import FuzzyConfig
from queryengine_spark.operators import fuzzy_join
from queryengine_spark.operators.fuzzy_join import fuzzy_match
from test_fuzzy_param_grid import simulate_reference

TOP_K = 3
CUTOFF = 60

BASE_TERMS = [
    "widget", "Widget", "gadget", "Gadget", "steel bolt", "brass washer",
    "blue spring", "red bearing", "nylon grommet", "large flange",
    "small rod", "cold bracket", "hot washer", "green widget",
]
REFS = [
    "widget", "widget xl", "gadgets", "steel bolts", "brass washer",
    "blue springs", "red bearing", "nylon grommet", "flange large",
    "small rods", "bracket", "washer", "green widgets", "gadget pro",
    "spring", "bolt", "rod", "grommets",
]


def _zipf_queries(seed: int, n: int) -> list[str]:
    """Zipf-repeated query rows. Some repeats carry surrounding
    whitespace, which trims away (one term); the base terms hold case
    variants, which stay separate terms because coverage compares
    bytes."""
    rng = random.Random(seed)
    weights = [1 / (rank + 1) for rank in range(len(BASE_TERMS))]
    out = []
    for term in rng.choices(BASE_TERMS, weights, k=n):
        pad = rng.random()
        if pad < 0.15:
            term = f"  {term}"
        elif pad < 0.3:
            term = f"{term}\t "
        out.append(term)
    return out


def _bigram_neighbours(query: str, refs: list[str]) -> int:
    def grams(t: str) -> set[bytes]:
        b = t.strip().encode()
        return {b[i : i + 2] for i in range(len(b) - 1)}

    return sum(1 for r in refs if grams(query) & grams(r))


def _run(spark, queries, refs, strategy):
    q_df = spark.createDataFrame(list(enumerate(queries)), ["id", "term"])
    r_df = spark.createDataFrame(list(enumerate(refs)), ["id", "term"])
    cfg = FuzzyConfig(top_k=TOP_K, score_cutoff=CUTOFF, candidate_strategy=strategy)
    return fuzzy_match(q_df, r_df, query_id="id", ref_id="id", config=cfg)


def _analyzed(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


def _distinct_queries() -> list[str]:
    """Every base term once plus three padded or plain repeats, so the
    probe's ≥2× rule fails and the per-row plan runs over a few
    duplicate terms."""
    out = BASE_TERMS + ["  widget", "gadget\t ", "steel bolt"]
    random.Random(5).shuffle(out)
    return out


def _check_parity(spark, monkeypatch, queries, strategy, ref_copies, units):
    """Row-by-row parity with the simulator; refine sees at most
    ``units`` × K rows, and every trimmed query term among them."""
    refs = REFS * ref_copies
    # the inverted strategy never sees zero-coverage pairs, so it equals
    # the simulator only where every query has K refs sharing a bigram
    assert all(_bigram_neighbours(t, refs) >= TOP_K for t in queries)

    refined = []
    orig = fuzzy_join.refine_candidates

    def counting(topk, cutoff):
        terms = {row["q_term"] for row in topk.select("q_term").distinct().collect()}
        refined.append((topk.count(), terms))
        return orig(topk, cutoff)

    monkeypatch.setattr(fuzzy_join, "refine_candidates", counting)
    df = _run(spark, queries, refs, strategy)
    if strategy == "inverted":
        # which ref-side candidate join ran: per distinct term or per id
        term_join = re.search(r"q_key#\d+ = q_term#\d+", _analyzed(df)) is not None
        assert term_join == (ref_copies > 1)
    got_rows = df.collect()

    got = [(r["query"], r["match"]) for r in sorted(got_rows, key=lambda r: r["q_id"])]
    assert got == simulate_reference(queries, refs, TOP_K, CUTOFF)
    ((n_refined, refined_terms),) = refined
    assert 0 < n_refined <= units * TOP_K
    # padded repeats collapse into one term; case variants stay apart
    assert refined_terms == {t.strip() for t in queries}


@pytest.mark.parametrize("strategy", ["cross", "inverted"])
@pytest.mark.parametrize("ref_copies", [1, 3], ids=["refs_distinct", "refs_repeated"])
@pytest.mark.parametrize("seed", [3, 11])
def test_repeated_queries_match_simulator(spark, monkeypatch, strategy, ref_copies, seed):
    """Parity on both candidate strategies and both ref-side paths
    (refs repeated 3× take the distinct-term candidate join), with
    refine run once per distinct trimmed query term."""
    queries = _zipf_queries(seed, 120)
    n_terms = len({t.strip() for t in queries})
    assert n_terms < len(queries) // 2  # the probe's ≥2× rule holds
    _check_parity(spark, monkeypatch, queries, strategy, ref_copies, n_terms)


@pytest.mark.parametrize("strategy", ["cross", "inverted"])
@pytest.mark.parametrize("ref_copies", [1, 3], ids=["refs_distinct", "refs_repeated"])
def test_distinct_queries_match_simulator(spark, monkeypatch, strategy, ref_copies):
    """The same parity on the per-row query plan, so all four cases
    (queries repeated or not × refs repeated or not) are checked row
    by row; refine runs at most once per query row."""
    queries = _distinct_queries()
    assert len({t.strip() for t in queries}) > len(queries) // 2  # the ≥2× rule fails
    _check_parity(spark, monkeypatch, queries, strategy, ref_copies, len(queries))


def test_distinct_queries_keep_the_per_row_plan(spark):
    """Mostly distinct queries get no per-term aggregation; repeated
    ones do."""
    distinct = _run(spark, BASE_TERMS, REFS, "inverted")
    assert "min(q_id" not in _analyzed(distinct)
    repeated = _run(spark, _zipf_queries(3, 120), REFS, "inverted")
    assert "min(q_id" in _analyzed(repeated)
