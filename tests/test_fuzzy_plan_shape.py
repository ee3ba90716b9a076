"""The shape of fuzzy_match's plan on repeated terms read from text
files: the scans stay in the JVM and read each file once, each
repeated side has one term dictionary whose bigrams are built after
the aggregation (no sort aggregate carrying arrays), each top-K row is
scored once, and building the plan probes each side once. An unknown
strategy fails before any job."""

from __future__ import annotations

import random
import re
from collections import Counter

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


def _term_aggregates(analyzed: str, p: str) -> set[str]:
    # the aggregates grouped by the term alone, expression ids dropped
    found = re.findall(rf"Aggregate \[{p}_term#\d+\], (\[.*)", analyzed)
    return {re.sub(r"#\d+L?", "", agg) for agg in found}


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
    scans = Counter(re.findall(r"FileScan text .*?InMemoryFileIndex\(1 paths\)\[(\S+)\]", plan))
    assert sorted(scans) == sorted(f"file:{tmp_path / name}" for name in ("q.txt", "r.txt"))
    assert max(scans.values()) == 1

    # one term dictionary per repeated side: every term aggregate of a
    # side is the same one, its partial aggregation runs once, and no
    # other distinct is left; refs are repeated but only the inverted
    # path runs per reference term
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "Distinct" not in analyzed and "Deduplicate" not in analyzed
    ref_terms = 1 if threshold == 100 else 0
    assert len(_term_aggregates(analyzed, "q")) == 1
    assert len(_term_aggregates(analyzed, "r")) == ref_terms
    assert len(re.findall(r"keys=\[q_term#\d+\], functions=\[partial_", plan)) == 1
    assert len(re.findall(r"keys=\[r_term#\d+\], functions=\[partial_", plan)) == ref_terms
    if threshold == 100:
        # the inverted path ran per distinct reference term
        assert re.search(r"q_key#\d+ = q_term#\d+", analyzed)


def test_unknown_strategy_fails_before_any_job(spark):
    df = spark.createDataFrame([(0, "widget"), (1, "widget"), (2, "gadget")], ["id", "term"])
    cfg = FuzzyConfig(candidate_strategy="bogus")
    sc = spark.sparkContext
    group = "fuzzy-unknown-strategy"
    sc.setJobGroup(group, "reject an unknown candidate strategy")
    try:
        with pytest.raises(ValueError, match="bogus"):
            fuzzy_match(df, df, query_id="id", ref_id="id", config=cfg)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
