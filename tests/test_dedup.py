"""Dedup operator invariants that the driver's hash gate can't see:
the LSH-bucketed embedding near-dup is a strict SUBSET of the exact
all-pairs result (no false positives — cosine is re-checked as the
refine residual) and its recall is high enough to be useful.

Reference parity: the reference engine has no embedding dedup; this
is the LLM-pipeline surface (SURVEY §2 extensions).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from queryengine_spark.operators.dedup import (
    embedding_neardup_pairs,
    embedding_neardup_pairs_lsh,
)
from queryengine_spark.queries.base import t

THRESHOLD = 0.35


def test_lsh_neardup_subset_and_recall(spark, sf_dir):
    e = t(spark, sf_dir, "embeddings")
    exact = embedding_neardup_pairs(e, "vec_id", "embedding", threshold=THRESHOLD)
    lsh = embedding_neardup_pairs_lsh(
        e, "vec_id", "embedding", threshold=THRESHOLD, n_bits=3, dim=64, n_tables=8
    )
    exact_pairs = {(r.id_a, r.id_b) for r in exact.select("id_a", "id_b").collect()}
    lsh_pairs = {(r.id_a, r.id_b) for r in lsh.select("id_a", "id_b").collect()}
    assert lsh_pairs <= exact_pairs, "LSH produced pairs the exact scorer rejects"
    if exact_pairs:
        recall = len(lsh_pairs) / len(exact_pairs)
        # measured 0.90 at sf0.01 / 0.895 at sf0.001 for 3 bits × 8
        # tables at this deliberately weak threshold (θ ≈ 69°; per-bit
        # sign agreement ≈ 0.62 → 1-(1-0.62³)⁸ ≈ 0.89 predicted)
        assert recall >= 0.8, f"recall {recall:.3f} too low to be useful"


def test_lsh_neardup_scores_match_exact(spark, sf_dir):
    e = t(spark, sf_dir, "embeddings")
    exact = embedding_neardup_pairs(e, "vec_id", "embedding", threshold=THRESHOLD)
    lsh = embedding_neardup_pairs_lsh(
        e, "vec_id", "embedding", threshold=THRESHOLD, n_bits=3, dim=64, n_tables=8
    )
    joined = lsh.alias("l").join(exact.alias("x"), ["id_a", "id_b"]).filter(
        F.col("l.cosine") != F.col("x.cosine")
    )
    assert joined.count() == 0, "refine residual diverged from the exact scorer"


def _labels(df):
    return {r.id: r.component for r in df.collect()}


def test_star_cc_equals_label_propagation_random(spark):
    import random

    rng = random.Random(7)
    n = 60
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(45)]
    from queryengine_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    v = spark.createDataFrame([(i,) for i in range(n)], "id long")
    e = spark.createDataFrame(
        [(a, b) for a, b in edges if a != b], "id_a long, id_b long"
    )
    lp = _labels(connected_components(v, e, max_iterations=40))
    star = _labels(connected_components_star(v, e, max_iterations=25))
    assert star == lp


def test_star_cc_path_graph_converges_fast(spark):
    """A 64-node path has diameter 63: label propagation would need
    >60 rounds; the alternating algorithm must finish within its
    O(log^2 n) bound — 10 rounds is generous for n=64."""
    from queryengine_spark.operators.dedup import connected_components_star

    n = 64
    v = spark.createDataFrame([(i,) for i in range(n)], "id long")
    e = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "id_a long, id_b long")
    out = _labels(connected_components_star(v, e, max_iterations=10))
    assert out == {i: 0 for i in range(n)}
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components_star(v, e, max_iterations=1).collect()


def test_minhash_jaccard_estimator_tracks_exact(spark, sf_dir):
    """The reserved-hash (#agreeing)/k estimate must statistically
    track the exact shingle Jaccard on the emitted candidate pairs.
    Per-pair noise at k=8 is ~sqrt(J(1-J)/8) ≈ 0.17 and the 8 hash
    functions are SHARED across pairs (errors correlate), so the
    bounds are the measured k=8 envelope (MAE 0.165, |bias| 0.117 on
    this corpus; both halve per k doubling — see operator docstring),
    plus the ordering property that makes the score useful: high-est
    pairs are genuinely similar."""
    from queryengine_spark.operators.dedup import (
        minhash_candidate_jaccard,
        ngram_jaccard_pairs,
    )

    docs = t(spark, sf_dir, "documents")
    est = minhash_candidate_jaccard(
        docs, "doc_id", "text", n_hashes=8, band_size=4, shingle_n=3,
        max_bucket=32, n_est_hashes=8,
    )
    exact = ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.0)
    joined = est.join(exact, ["id_a", "id_b"]).select(
        "id_a", "id_b", "est_jaccard", "jaccard"
    )
    rows = joined.collect()
    assert len(rows) > 50, "need a meaningful sample of shared pairs"
    errs = [r["est_jaccard"] - r["jaccard"] for r in rows]
    mae = sum(abs(e) for e in errs) / len(rows)
    bias = sum(errs) / len(rows)
    assert mae <= 0.25, f"estimator MAE {mae:.3f} beyond k=8 envelope"
    assert abs(bias) <= 0.2, f"estimator bias {bias:+.3f} beyond k=8 envelope"
    high = [r for r in rows if r["est_jaccard"] >= 0.75]
    assert high, "banding at band_size=4 should surface some high-est pairs"
    assert all(r["jaccard"] >= 0.35 for r in high), (
        "a pair estimated >=0.75 must be genuinely similar"
    )
