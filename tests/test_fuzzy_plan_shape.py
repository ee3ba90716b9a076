"""The shape of fuzzy_match's plan on repeated terms read from text
files: the scans stay in the JVM, each term's bigrams are built after
the distinct (no sort aggregate carrying arrays), each top-K row is
scored once, and building the plan probes each side once."""

from __future__ import annotations

import random
import re

import pytest

from queryengine_spark.config import FuzzyConfig
from queryengine_spark.operators.fuzzy_join import fuzzy_match
from queryengine_spark.sources.text import read_lines

QUERY_TERMS = ["widget", "gadget", "steel bolt", "brass washer", "red bearing", "nylon grommet"]
REF_TERMS = [
    "widget", "widget xl", "gadgets", "steel bolts", "brass washer", "red bearing",
    "nylon grommet", "washer", "bolt", "gadget pro", "spring", "grommets",
]


def _write(path, terms, n, seed):
    rng = random.Random(seed)
    path.write_text("\n".join(rng.choice(terms) for _ in range(n)) + "\n")
    return str(path)


def _build(spark, tmp_path, config):
    """fuzzy_match over repeated terms, and the Spark jobs that
    building its plan started."""
    q = read_lines(spark, _write(tmp_path / "q.txt", QUERY_TERMS, 60, 1))
    r = read_lines(spark, _write(tmp_path / "r.txt", REF_TERMS, 240, 2))
    sc = spark.sparkContext
    group = f"fuzzy-plan-build-{config.auto_cross_threshold}"
    sc.setJobGroup(group, "build the fuzzy_match plan")
    try:
        df = fuzzy_match(q, r, query_id="line_id", ref_id="line_id", config=config)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return df, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize(
    "threshold", [100, 10_000], ids=["auto_inverted", "auto_cross"]
)
def test_plan_reads_in_jvm_scores_once_and_probes_each_side_once(spark, tmp_path, threshold):
    cfg = FuzzyConfig(top_k=3, score_cutoff=60, auto_cross_threshold=threshold)
    df, build_jobs = _build(spark, tmp_path, cfg)
    assert build_jobs <= 2

    rows = df.collect()
    assert len(rows) == 60
    # the adaptive plan prints its final plan, then its initial plan
    plan = df._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
    assert "== Final Plan ==" in plan
    assert plan.count("ArrowEvalPython") == 1
    assert "SortAggregate" not in plan
    assert "ExistingRDD" not in plan
    if threshold == 100:
        # the inverted path ran per distinct reference term
        analyzed = df._jdf.queryExecution().analyzed().toString()
        assert re.search(r"q_key#\d+ = q_term#\d+", analyzed)
