"""Skew robustness of the fuzzy join under an ADVERSARIAL hot-bigram
vocabulary: every reference shares a long common core (its bigrams hit
100% of refs — the worst case for an inverted bigram index, where the
hot keys alone would reproduce the full |Q|×|R| cross product), while
each term's tail carries rare bigrams.

Evidence pinned here (VERDICT r1 item 6):
- the stop-bigram guard collapses candidate volume by >10× on this
  vocabulary while recall vs the unguarded result stays ≥ 95%
  (rare-tail bigrams carry the match);
- salted_join on the skewed bigram equi-join is result-identical to
  the plain join while spreading the hot key over n_salts reducers.

The measured recall/runtime tradeoff table lives in docs/SKEW.md.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from queryengine_spark.config import FuzzyConfig
from queryengine_spark.operators.fuzzy_join import (
    candidates_inverted,
    fuzzy_match,
    prepare_terms,
)
from queryengine_spark.plans import salted_join

N_REFS = 1000
N_QUERIES = 100
HOT_CORE = "abababababab"  # bigrams 'ab'/'ba' occur in EVERY ref


def _tail(i: int) -> str:
    # 4 base-26 letters: each ref's tail bigrams are rare (df ≈ 0.1-4%)
    return "x" + "".join(chr(97 + (i // 26**k) % 26) for k in range(4))


def _ref_terms():
    return [(i, f"{HOT_CORE}{_tail(i)}") for i in range(N_REFS)]


def _query_terms():
    # dirty the HOT region (swap one core char) — the rare tail, which
    # must carry recall under the guard, stays intact. The true ref is
    # ~1 edit away (score ≈ 94); any other ref differs in ≥3 tail
    # chars, so the refine stage separates the winner decisively.
    out = []
    for i in range(N_QUERIES):
        rid = i * (N_REFS // N_QUERIES)
        term = f"{HOT_CORE[:-1]}z{_tail(rid)}"
        out.append((i, rid, term))
    return out


@pytest.fixture(scope="module")
def skew_data(spark):
    refs = spark.createDataFrame(_ref_terms(), ["id", "term"])
    queries = spark.createDataFrame(
        [(qid, term) for qid, _, term in _query_terms()], ["id", "term"]
    )
    return queries, refs


def test_guard_collapses_candidates_keeps_recall(spark, skew_data):
    queries, refs = skew_data
    q = prepare_terms(queries, "term", "id", "q")
    r = prepare_terms(refs, "term", "id", "r")

    unguarded = candidates_inverted(q, r, None, broadcast_queries=True)
    guarded = candidates_inverted(q, r, 0.1, broadcast_queries=True)
    n_unguarded, n_guarded = unguarded.count(), guarded.count()
    # hot core makes the unguarded index the full cross product
    assert n_unguarded == N_QUERIES * N_REFS
    assert n_guarded < n_unguarded / 10, (n_guarded, n_unguarded)

    cfg = dict(top_k=5, score_cutoff=80, candidate_strategy="inverted")
    base = fuzzy_match(
        queries, refs, query_id="id", ref_id="id", config=FuzzyConfig(**cfg)
    ).collect()
    capped = fuzzy_match(
        queries, refs, query_id="id", ref_id="id",
        config=FuzzyConfig(**cfg, stop_bigram_df_ratio=0.1),
    ).collect()
    base_m = {r["q_id"]: (r["match"], r["score"]) for r in base}
    capped_m = {r["q_id"]: (r["match"], r["score"]) for r in capped}
    assert set(base_m) == set(capped_m)  # every query emitted once in both
    matched = [qid for qid, (m, _) in base_m.items() if m != "NA"]
    assert len(matched) == N_QUERIES  # unguarded finds everything
    same = sum(1 for qid in matched if capped_m[qid] == base_m[qid])
    recall = same / len(matched)
    assert recall >= 0.95, f"guard recall {recall:.3f}"


def test_guard_counts_reference_rows_on_the_term_path(spark, skew_data):
    """With the even references held by four rows each, the guard's
    document frequency counts rows on the distinct-term path too (at
    this ratio, counting terms would drop 5 bigrams where counting
    rows drops 17), so both paths give the same candidates."""
    queries, _ = skew_data
    copies = [(k * N_REFS + i, t) for k in range(1, 4) for i, t in _ref_terms() if i % 2 == 0]
    refs = spark.createDataFrame(_ref_terms() + copies, ["id", "term"])
    q = prepare_terms(queries, "term", "id", "q")
    r = prepare_terms(refs, "term", "id", "r")
    cols = ["q_id", "r_id", "cov", "lendiff"]
    by_path = [
        {tuple(row) for row in candidates_inverted(q, r, 0.05, True, dedup).select(*cols).collect()}
        for dedup in (False, True)
    ]
    assert by_path[0] == by_path[1]
    assert 0 < len(by_path[0]) < N_QUERIES * 2500 / 10


def test_salted_join_identical_on_hot_key(spark, skew_data):
    queries, refs = skew_data
    q = prepare_terms(queries, "term", "id", "q")
    r = prepare_terms(refs, "term", "id", "r")
    q_bi = (
        q.select("q_id", F.explode("q_bigrams").alias("bg"))
        .groupBy("q_id", "bg")
        .agg(F.count(F.lit(1)).alias("mult"))
    )
    r_bi = r.select("r_id", F.explode(F.array_distinct("r_bigrams")).alias("bg"))

    plain = (
        q_bi.join(r_bi, "bg").groupBy("q_id", "r_id").agg(F.sum("mult").alias("hits"))
    )
    salted = (
        salted_join(r_bi, q_bi, ["bg"], n_salts=8)
        .groupBy("q_id", "r_id")
        .agg(F.sum("mult").alias("hits"))
    )
    a = {(r["q_id"], r["r_id"]): r["hits"] for r in plain.collect()}
    b = {(r["q_id"], r["r_id"]): r["hits"] for r in salted.collect()}
    assert a == b


def test_salt_spreads_hot_key(spark, skew_data):
    """The hot bigram's rows land on n_salts distinct join keys — the
    property that turns one overwhelmed reducer into n_salts busy ones."""
    _, refs = skew_data
    r = prepare_terms(refs, "term", "id", "r")
    r_bi = r.select("r_id", F.explode(F.array_distinct("r_bigrams")).alias("bg"))
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in r_bi.columns]), F.lit(8))
    n = (
        r_bi.filter(F.col("bg") == F.lit("ab"))
        .select(salt.alias("s"))
        .distinct()
        .count()
    )
    assert n == 8
