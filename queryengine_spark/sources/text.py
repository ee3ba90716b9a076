"""Text sources (reference S1-S3, SURVEY.md §2.1).

- S1 line-text scan (/root/reference/src/heurFuzz.py:10-20): one term
  per line, Python-strip trimmed, with an input-line-order id (the
  reference's output preserves input order, so the id is part of the
  source contract).
- S2 TSV with header (/root/reference/src/example_helpers/parse_inputs.py:30-31).
- S3 pipe-delimited name dump (field 1 of split('|'), trimmed —
  parse_inputs.py:39-42).
"""

from __future__ import annotations

import itertools

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from queryengine_spark.functions.text import ws_trim

#: monotonically_increasing_id puts the partition index in bits 33 and
#: up and the row's position within its partition in the low 33 bits
_POS_BITS = 33


def read_lines(spark: SparkSession, path: str) -> DataFrame:
    """Line scan with a deterministic input-order ``line_id``.

    ``line_id`` is contiguous from 0 in file order: the reference's
    tie-breaks and output order depend on line order, and Spark has no
    built-in row-order id for text sources. The JVM scan assigns it
    from ``monotonically_increasing_id()`` (partition index, position
    in the partition); no row crosses into Python. A multi-partition
    scan runs one small aggregate that counts each partition's rows,
    and each row's partition offset then comes from a literal array
    lookup: the same sizing pass zipWithIndex makes.

    The offsets hold for the scan's partitioning at the time of this
    call. A row outside the partition it was counted in (the file or
    the split settings, ``spark.sql.files.*``, changed before the
    frame ran) fails the query instead of getting a wrong id.
    """
    lines = spark.read.text(path).select(
        F.monotonically_increasing_id().alias("mid"), F.col("value").alias("term")
    )
    part = F.shiftrightunsigned(F.col("mid"), _POS_BITS)
    pos = F.col("mid").bitwiseAND(F.lit((1 << _POS_BITS) - 1))
    n_parts = lines.rdd.getNumPartitions()
    if n_parts > 1:
        counts = dict(lines.groupBy(part.alias("p")).count().collect())
        sizes = [counts.get(p, 0) for p in range(n_parts)]
    else:
        sizes = [1 << _POS_BITS]  # one partition: the position is the id
    offsets = [0, *itertools.accumulate(sizes[:-1])]
    line_id = F.when(pos < _longs(sizes)[part], _longs(offsets)[part] + pos).otherwise(
        F.raise_error(F.lit(f"read_lines({path}): the scan's partitioning changed"))
    )
    return lines.select(line_id.alias("line_id"), ws_trim(F.col("term")).alias("term"))


def _longs(values: list[int]) -> Column:
    return F.array(*map(F.lit, values)).cast("array<bigint>")


def read_tsv(spark: SparkSession, path: str) -> DataFrame:
    """TSV with header row (reference S2)."""
    return spark.read.option("sep", "\t").option("header", True).csv(path)


def read_pipe_names(spark: SparkSession, path: str) -> DataFrame:
    """Pipe-delimited dump → trimmed ``name`` column = field index 1 of
    split('|') (reference S3, parse_inputs.py:39-42)."""
    return (
        spark.read.text(path)
        .select(F.split(F.col("value"), "\\|").alias("fields"))
        .filter(F.size("fields") > 1)
        .select(ws_trim(F.col("fields").getItem(1)).alias("name"))
    )


def read_jsonl(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """JSON-lines source (beyond the reference: the interchange format
    LLM-corpus pipelines actually ship). An explicit schema skips the
    sampling inference pass — at 100 TB, schema inference is a full
    extra scan; always pass one in production."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def write_jsonl(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """JSON-lines sink, optionally hive-partitioned. Partitioning by a
    low-cardinality column (lang, source, date) is the layout that
    makes downstream partition pruning free."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.json(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC source — the other columnar interchange format warehouses
    ship; same pushdown/pruning machinery as parquet in Spark."""
    return spark.read.orc(path)


def write_orc(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """ORC sink, optionally hive-partitioned."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)


def write_partitioned_parquet(
    df: DataFrame, path: str, partition_by: list[str]
) -> None:
    """Hive-partitioned parquet sink — the standard corpus layout:
    directory per partition value, prunable by any engine."""
    df.write.mode("overwrite").partitionBy(*partition_by).parquet(path)
