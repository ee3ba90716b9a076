"""Python DataSource line-text scan: byte-range splitting must lose
no line, duplicate no line, and preserve input order via the offset
key — equivalence-checked against a plain single-pass read."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from queryengine_spark.sources.pyds import register

EXAMPLE_QUERY = "/root/reference/example/test_query.txt"
EXAMPLE_REFS = "/root/reference/example/test_refs.txt"

needs_example = pytest.mark.skipif(
    not os.path.isdir(os.path.dirname(EXAMPLE_REFS)),
    reason="the heurFuzz reference example (inputs and golden output) is absent",
)


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    register(spark)


def _expected_lines(path: str) -> list[str]:
    with open(path, "rb") as f:
        return [ln.rstrip(b"\r\n").decode("utf-8") for ln in f]


@needs_example
@pytest.mark.parametrize("path", [EXAMPLE_QUERY, EXAMPLE_REFS])
def test_reads_reference_example_in_order(spark, path):
    rows = (
        spark.read.format("heurfuzz_text")
        .option("path", path)
        .load()
        .orderBy("offset")
        .collect()
    )
    assert [r["term"] for r in rows] == _expected_lines(path)
    offs = [r["offset"] for r in rows]
    assert offs == sorted(offs) and len(set(offs)) == len(offs)


def test_chunked_split_no_loss_no_dup(spark, tmp_path):
    # multibyte UTF-8 + empty lines + a line spanning far past a chunk
    lines = []
    for i in range(500):
        if i % 97 == 0:
            lines.append("")
        elif i % 13 == 0:
            lines.append("héllo wörld ünïcode " * (i % 7 + 1))
        else:
            lines.append(f"term-{i:05d}")
    p = tmp_path / "input.txt"
    p.write_bytes(("\n".join(lines) + "\n").encode("utf-8"))

    for chunk in (257, 1024, 10**9):  # boundary-heavy to single-chunk
        got = (
            spark.read.format("heurfuzz_text")
            .option("path", str(p))
            .option("chunk_bytes", str(chunk))
            .load()
            .orderBy("offset")
            .collect()
        )
        assert [r["term"] for r in got] == lines, f"chunk_bytes={chunk}"


def test_no_trailing_newline(spark, tmp_path):
    p = tmp_path / "nofinalnl.txt"
    p.write_bytes(b"alpha\nbeta\ngamma")
    got = (
        spark.read.format("heurfuzz_text")
        .option("path", str(p))
        .option("chunk_bytes", "4")
        .load()
        .orderBy("offset")
        .collect()
    )
    assert [r["term"] for r in got] == ["alpha", "beta", "gamma"]


@needs_example
def test_composes_with_fuzzy_pipeline(spark):
    """The DataSource feeds the same pipeline as the built-in scan:
    row_number over the offset order reproduces input-order ids."""
    from pyspark.sql import Window

    from queryengine_spark.functions.text import ws_trim

    register(spark)
    df = (
        spark.read.format("heurfuzz_text")
        .option("path", EXAMPLE_REFS)
        .load()
        .withColumn(
            "id", F.row_number().over(Window.orderBy("offset")) - 1
        )
        .select("id", ws_trim(F.col("term")).alias("term"))
    )
    from queryengine_spark.sources.text import read_lines

    want = read_lines(spark, EXAMPLE_REFS).collect()
    got = df.collect()
    assert [(r["id"], r["term"]) for r in got] == [
        (r[0], r[1]) for r in want
    ]
