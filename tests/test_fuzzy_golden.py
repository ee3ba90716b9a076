"""M1 exit criterion (SURVEY §7): byte-identical reproduction of the
reference's committed golden output (/root/reference/example/output.txt,
produced with -n 5 -s 90 per README.md:40) — including the
tie-break-sensitive `test → test2` row and the `peanutbutter → NA` row."""

from __future__ import annotations

import os

import pytest

from queryengine_spark.config import FuzzyConfig
from queryengine_spark.operators.fuzzy_join import fuzzy_match, map_ratio
from queryengine_spark.sinks import to_local_tsv
from queryengine_spark.sources.text import read_lines

QUERY_FILE = "/root/reference/example/test_query.txt"
REF_FILE = "/root/reference/example/test_refs.txt"
GOLDEN = "/root/reference/example/output.txt"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(os.path.dirname(GOLDEN)),
    reason="the heurFuzz reference example (inputs and golden output) is absent",
)


@pytest.fixture(scope="module")
def golden_text() -> str:
    with open(GOLDEN) as f:
        return f.read()


@pytest.mark.parametrize("strategy", ["cross", "inverted"])
def test_golden_output_byte_identical(spark, golden_text, strategy):
    cfg = FuzzyConfig(top_k=5, score_cutoff=90, candidate_strategy=strategy)
    queries = read_lines(spark, QUERY_FILE)
    refs = read_lines(spark, REF_FILE)
    result = fuzzy_match(
        queries, refs, query_id="line_id", ref_id="line_id", config=cfg
    )
    tsv = to_local_tsv(result, ["query", "match"], order_by="q_id")
    assert tsv == golden_text


def test_map_ratio_is_75_percent(spark):
    cfg = FuzzyConfig(top_k=5, score_cutoff=90)
    result = fuzzy_match(
        read_lines(spark, QUERY_FILE),
        read_lines(spark, REF_FILE),
        query_id="line_id",
        ref_id="line_id",
        config=cfg,
    )
    row = map_ratio(result).collect()[0]
    assert (row["total"], row["mapped"], float(row["map_ratio"])) == (4, 3, 75.0)
