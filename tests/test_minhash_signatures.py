"""minhash_signatures is one Arrow pass: its rows, values and schema
equal those of the explode → md5 → string-min aggregate it replaced
(kept here as the oracle), on the edge cases of case folding, code
points and short texts, and its plan has no shingle explode, no sort
aggregate and no shuffle on id."""

from __future__ import annotations

import random
import re

import pytest
from pyspark.sql import functions as F

from queryengine_spark.functions.text import char_ngrams
from queryengine_spark.operators import dedup

EDGE_TEXTS = [
    None,
    "",
    "ab",
    "abc",
    "aaaa",
    "ΣΑΣ",
    "İstanbul",
    "ǅemal ﬁsh ﬂow",
    "東京都渋谷区の古い喫茶店",
    "🙂🙃🙂 party 🎉 𝔘𝔫𝔦𝔠𝔬𝔡𝔢",
    "tab\tsep\nnew line\r\nend",
    "The Quick Brown Fox Jumps Over The Lazy Dog",
    "the quick brown fox jumps over the lazy dog",
]


def _long_text(seed: int, n: int) -> str:
    rng = random.Random(seed)
    alphabet = "abcdefghij KLMNOP éß🙂"
    return "".join(rng.choice(alphabet) for _ in range(n))


TEXTS = EDGE_TEXTS + [_long_text(1, 5000), _long_text(2, 37)]


def _oracle(df, id_col, text_col, n_hashes, shingle_n):
    """The former plan: explode distinct shingles, project one md5 per
    seed, min the hex slices per id."""
    sh = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(char_ngrams(F.lower(F.col(text_col)), shingle_n))).alias(
            "sh"
        ),
    )
    n_seeds = -(-n_hashes // 4)
    proj = sh.select(
        "id",
        *[F.md5(F.concat(F.lit(f"{s}:"), F.col("sh"))).alias(f"m{s}") for s in range(n_seeds)],
    )
    return proj.groupBy("id").agg(
        *[
            F.min(F.substring(F.col(f"m{i // 4}"), (i % 4) * 8 + 1, 8)).alias(f"h{i}")
            for i in range(n_hashes)
        ]
    )


@pytest.fixture
def small_batches(spark):
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "3")
    yield
    spark.conf.set(key, old)


def _docs(spark, id_type="bigint"):
    rows = [(i, t) for i, t in enumerate(TEXTS)]
    return spark.createDataFrame(rows, f"doc_id {id_type}, body string")


def _assert_same(got, want):
    assert got.schema == want.schema
    assert sorted(got.collect()) == sorted(want.collect())


@pytest.mark.parametrize("n_hashes,shingle_n", [(24, 3), (8, 3), (6, 5), (16, 2)])
def test_signatures_equal_the_aggregate_plan(spark, small_batches, n_hashes, shingle_n):
    df = _docs(spark)
    got = dedup.minhash_signatures(df, "doc_id", "body", n_hashes, shingle_n)
    want = _oracle(df, "doc_id", "body", n_hashes, shingle_n)
    _assert_same(got, want)
    # NULL, empty and too-short texts have no row
    short = sum(1 for t in TEXTS if t is None or len(t) < shingle_n)
    assert got.count() == len(TEXTS) - short


def test_int_id_keeps_its_type(spark, small_batches):
    df = _docs(spark, "int")
    got = dedup.minhash_signatures(df, "doc_id", "body", 8, 3)
    assert got.schema["id"].dataType.simpleString() == "int"
    _assert_same(got, _oracle(df, "doc_id", "body", 8, 3))


def test_memo_cap_does_not_change_the_output(spark, small_batches, monkeypatch):
    monkeypatch.setattr(dedup, "_SHINGLE_MEMO_MAX", 4)
    df = _docs(spark)
    _assert_same(
        dedup.minhash_signatures(df, "doc_id", "body", 24, 3),
        _oracle(df, "doc_id", "body", 24, 3),
    )


def test_corpus_signatures_equal_the_aggregate_plan(spark):
    rng = random.Random(7)
    words = ["alpha", "Beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta", "iota"]
    rows = [(i, " ".join(rng.choice(words) for _ in range(rng.randint(0, 30)))) for i in range(600)]
    df = spark.createDataFrame(rows, "id long, text string").repartition(3)
    _assert_same(
        dedup.minhash_signatures(df, "id", "text", 24, 3),
        _oracle(df, "id", "text", 24, 3),
    )


def test_plan_is_one_python_pass_without_shuffle_on_id(spark):
    df = _docs(spark)
    sig = dedup.minhash_signatures(df, "doc_id", "body", 24, 3)
    sig.collect()
    plan = sig._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
    python_nodes = re.findall(r"MapInArrow|MapInPandas|ArrowEvalPython|BatchEvalPython", plan)
    assert len(python_nodes) == 1
    assert "SortAggregate" not in plan
    assert "HashAggregate" not in plan
    assert "Generate" not in plan
    assert not re.search(r"hashpartitioning\(id#", plan)
