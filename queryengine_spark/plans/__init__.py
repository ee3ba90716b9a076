"""Plan-shaping utilities: fan-out before explode, bucketed
co-located joins, and salted skew joins — the explicit shuffle-control
toolkit for 100 TB plans (complementing what AQE does automatically) —
plus ``map_rows``, the one Arrow boundary every per-row decoder and
synthesizer in ``multimodal/`` and ``sources/`` crosses.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def spread(df: DataFrame, partitions: int | None = None) -> DataFrame:
    """Repartition a narrow relation before a row-multiplying operator
    (explode / crossJoin / UDF scoring).

    Single-file parquet inputs arrive as ONE partition (file-size
    splitting, spark.sql.files.maxPartitionBytes), so an explode that
    multiplies rows 100× would otherwise run on one core. One cheap
    shuffle of the narrow input buys full-cluster parallelism for the
    expensive stage — the classic fan-out-before-explode shape. At
    real scale (many input files) this is a no-op decision; keep it
    for small-file robustness.

    The decision reads ``df.inputFiles()`` (a DataFrame API — no RDD
    materialization, Connect-compatible; the previous
    ``rdd.getNumPartitions()`` triggered plan analysis through the
    RDD conversion on every call) and estimates how many SCAN SPLITS
    those files yield. A raw file COUNT is not enough: Spark's file
    packing (``spark.sql.files.maxPartitionBytes`` +
    ``openCostInBytes``) coalesces many small files into few scan
    partitions, so "enough files" does not imply a parallel scan.
    Estimated splits = Σ max(size, openCost) / maxPartitionBytes,
    the same bin-packing bound FilePartition uses. Enough estimated
    splits → the scan is already parallel, skip the shuffle.
    Non-file sources report zero files and get the defensive
    repartition — correct, at worst one cheap shuffle of a narrow
    input. The shuffle-partitions conf can be the string ``"auto"``
    on some platforms; fall back to ``defaultParallelism``."""
    spark = df.sparkSession
    if partitions is not None:
        if partitions < 1:
            raise ValueError(f"partitions must be >= 1, got {partitions}")
        target = partitions
    else:
        try:
            target = int(spark.conf.get("spark.sql.shuffle.partitions"))
        except (TypeError, ValueError):
            target = spark.sparkContext.defaultParallelism
    files = df.inputFiles()
    if files:
        try:
            max_bytes = int(spark.conf.get("spark.sql.files.maxPartitionBytes"))
        except (TypeError, ValueError):
            max_bytes = 128 * 1024 * 1024
        try:
            open_cost = int(spark.conf.get("spark.sql.files.openCostInBytes"))
        except (TypeError, ValueError):
            open_cost = 4 * 1024 * 1024
        total = 0
        for f in files:
            path = f[len("file:") :] if f.startswith("file:") else f
            try:
                size = os.path.getsize(path)
            except OSError:
                # non-local or vanished file: assume one full split
                size = max_bytes
            total += max(size, open_cost)
        est_splits = -(-total // max_bytes)  # ceil
        if est_splits >= target:
            return df
    return df.repartition(target)


def map_rows(df: DataFrame, schema: StructType, fn: Callable, *cols: str) -> DataFrame:
    """The one Python boundary for per-row kernels: a single
    ``mapInArrow`` that calls ``fn(*values)`` once per input row, with
    ``values`` read from ``cols`` as Python objects (NULL → None);
    only those columns cross the boundary.
    ``fn`` returns an iterable of zero or more output tuples in
    ``schema`` order; a tuple shorter than the schema is NULL-padded.
    Output columns are built with the schema's Arrow types, so a float
    NaN stays NaN — a kernel that means NULL returns None."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema)
    width = len(arrow_schema)
    pad = (None,) * width

    def run(batches):
        for batch in batches:
            rows = [
                row if len(row) == width else (*row, *pad[len(row) :])
                for values in zip(*(c.to_pylist() for c in batch.columns))
                for row in fn(*values)
            ]
            columns = zip(*rows) if rows else [()] * width
            arrays = [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema)]
            yield pa.RecordBatch.from_arrays(arrays, schema=arrow_schema)

    run.__name__ = getattr(fn, "__name__", "map_rows")  # names the plan node
    return df.select(*cols).mapInArrow(run, schema)


def spread_by(df: DataFrame, *cols: str, partitions: int | None = None) -> DataFrame:
    """Keyed repartition with an EXPLICIT partition count (r12).

    AQE's partition coalescing is byte-balanced: a shuffle carrying a
    few MB coalesces to one post-shuffle partition no matter how much
    CPU the downstream operator spends per row — which serializes
    Python stages, wide aggregations and quadratic-ish join reduces
    onto one core at bench scale. A user repartition WITH an explicit
    count is exempt from coalescing, and hashpartitioning(cols, n)
    satisfies the downstream clustering requirement (groupBy /
    applyInPandas / distinct / equi-join on the same keys), so this
    pins the SAME single exchange wide instead of adding one. The
    count follows spark.sql.shuffle.partitions (env-sized per
    deployment), never a local constant; at cluster scale, where
    post-shuffle partitions exceed the advisory size anyway, pinning
    is behavior-neutral."""
    spark = df.sparkSession
    if partitions is not None:
        if partitions < 1:
            raise ValueError(f"partitions must be >= 1, got {partitions}")
        target = partitions
    else:
        try:
            target = int(spark.conf.get("spark.sql.shuffle.partitions"))
        except (TypeError, ValueError):
            target = spark.sparkContext.defaultParallelism
    return df.repartition(target, *[F.col(c) for c in cols])


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: Sequence[str],
    n_buckets: int,
    sort_cols: Sequence[str] | None = None,
) -> None:
    """Persist a relation bucketed (and optionally sorted) by its join
    key. Two tables bucketed identically join WITHOUT any exchange —
    the decisive optimization for repeatedly-joined 100 TB facts
    (pay the shuffle once at write time, never again at read time).
    """
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS `{table}`")
    # the in-memory catalog forgets managed tables across sessions but
    # their warehouse directories survive; clear an orphaned location
    # so saveAsTable doesn't refuse it
    wh = spark.conf.get("spark.sql.warehouse.dir", "")
    if wh.startswith("file:"):
        wh = wh[len("file:") :]
    if wh:
        import shutil

        shutil.rmtree(os.path.join(wh, table.lower()), ignore_errors=True)
    writer = (
        df.write.mode("overwrite").format("parquet").bucketBy(n_buckets, *bucket_cols)
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-safe equi-join: the (large, skewed) left side gets a
    deterministic salt in [0, n_salts) derived from its full row hash,
    the (smaller) right side is replicated once per salt value, and
    the join key becomes (keys + salt) — a hot key's rows spread over
    n_salts reducers instead of one. Use when AQE skew splitting is
    unavailable or insufficient; result is identical to the plain
    join (tested)."""
    if how not in ("inner", "left", "left_outer", "leftouter", "left_semi", "leftsemi"):
        # right/full outer would emit unmatched right rows once per
        # salt replica — semantics diverge from the plain join
        raise ValueError(f"salted_join supports inner/left joins only, got {how!r}")
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in left.columns]), F.lit(n_salts))
    left_s = left.withColumn("__salt", salt.cast("int"))
    right_s = right.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    return left_s.join(right_s, [*on, "__salt"], how).drop("__salt")
