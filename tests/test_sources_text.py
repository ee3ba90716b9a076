"""read_lines assigns contiguous input-order line ids from the JVM
scan. The oracle is the former implementation: zipWithIndex over the
scan's lines, which numbers rows in partition order."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from queryengine_spark.functions.text import ws_trim
from queryengine_spark.sources.text import read_lines

_SPLIT_CONF = "spark.sql.files.maxPartitionBytes"


def _zip_with_index_lines(spark, path):
    schema = StructType(
        [StructField("line_id", LongType(), False), StructField("term", StringType(), True)]
    )
    rdd = spark.read.text(path).rdd.map(lambda r: r[0]).zipWithIndex()
    return spark.createDataFrame(rdd.map(lambda t: (t[1], t[0])), schema).select(
        "line_id", ws_trim(F.col("term")).alias("term")
    )


def _write_lines(path, n: int, seed: int) -> None:
    rng = random.Random(seed)
    kinds = [
        lambda i: "",
        lambda i: " \t ",
        lambda i: f"  ünïcödé ✓ 漢字 {i}\t",
        lambda i: f"term {i}",
        lambda i: "x" * rng.randint(1, 40),
    ]
    lines = [rng.choice(kinds)(i) for i in range(n)]
    path.write_text("\n".join(lines) + "\n", encoding="utf-8")


@pytest.fixture
def split_small(spark):
    """Scan splits of 32 KiB, restored afterwards."""
    old = spark.conf.get(_SPLIT_CONF)
    spark.conf.set(_SPLIT_CONF, str(32 * 1024))
    yield
    spark.conf.set(_SPLIT_CONF, old)


def test_line_ids_match_zip_with_index_across_partitions(spark, tmp_path, split_small):
    path = tmp_path / "lines.txt"
    _write_lines(path, 20_000, seed=5)
    got = read_lines(spark, str(path))
    assert spark.read.text(str(path)).rdd.getNumPartitions() >= 8

    got_rows = [tuple(r) for r in got.orderBy("line_id").collect()]
    want_rows = [tuple(r) for r in _zip_with_index_lines(spark, str(path)).collect()]
    assert got_rows == want_rows
    assert [r[0] for r in got_rows] == list(range(20_000))


def test_single_partition_ids_are_positions(spark, tmp_path):
    path = tmp_path / "lines.txt"
    path.write_text("a\n\n  b  \n✓✓\n", encoding="utf-8")
    rows = [tuple(r) for r in read_lines(spark, str(path)).collect()]
    assert rows == [(0, "a"), (1, ""), (2, "b"), (3, "✓✓")]


def test_changed_partitioning_fails_instead_of_renumbering(spark, tmp_path):
    """The offsets are sized for the scan's partitioning at read time;
    running the frame under other split settings must not hand out
    ids from the wrong offsets."""
    path = tmp_path / "lines.txt"
    _write_lines(path, 20_000, seed=9)
    old = spark.conf.get(_SPLIT_CONF)
    spark.conf.set(_SPLIT_CONF, str(32 * 1024))
    try:
        df = read_lines(spark, str(path))
    finally:
        spark.conf.set(_SPLIT_CONF, old)
    with pytest.raises(Exception, match="partitioning changed|INVALID_ARRAY_INDEX"):
        df.collect()
