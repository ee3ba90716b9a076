"""Distributed suffix-array repeated-span detection via PREFIX
DOUBLING — the suffix-array half of Lee et al. 2022 ("Deduplicating
Training Data Makes Language Models Better"), whose published
implementation builds a monolithic in-memory suffix array; this is
the Spark-relational construction over token sequences.

Prefix doubling (Manber-Myers): give every corpus position a rank
equal to its token's global rank (a length-1 prefix order), then
repeatedly combine ``rank[pos]`` with ``rank[pos + k]`` and re-rank,
doubling ``k`` — after ``log2(W)`` rounds two positions share a rank
IFF their first ``W`` tokens are identical. Positions are compared
WITHIN documents only (the join key is (doc_id, pos + k)); a suffix
shorter than ``k`` pairs with sentinel rank 0, which can never equal
a real rank, so short suffixes collapse only with equally-short
identical ones and are filtered from the output (a reported span
must be a full ``W``-token window, matching the n-gram oracle).

Why this shape instead of exploding W-grams: the n-gram formulation
(operators/curation.py::span_scrub) shuffles the GRAM STRING — ~W
tokens of bytes per position — once; prefix doubling shuffles two
8-byte ranks per position per round, log2(W) times. At Lee et al.'s
W=50 that is ~6 rounds × 16 B = 96 B/position vs ≥ 300 B/position
for gram strings, and the gap widens with W — the suffix-array plan
is how exact-substring dedup stays shuffle-feasible at long match
lengths. (At the small W the contract query uses, both are fine; the
plan is the point.)

Global ranking is the classic distributed-sort subproblem: ranks are
assigned with :func:`global_rank` — repartitionByRange on the key,
per-partition ``row_number`` (windows stay partition-local, never
one global window), plus broadcast partition offsets from a
#partitions-sized collect. Rank VALUES are the exact global order of
the distinct keys, independent of partition boundaries, so results
are deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from queryengine_spark.functions.text import tokenize_ws


def global_rank(keys: DataFrame, cols: list[str], out: str = "r") -> DataFrame:
    """Exact global 1-based rank of DISTINCT key rows by ``cols``
    order, computed scale-out: range repartition → per-partition
    row_number → broadcast cumulative partition offsets. The only
    driver state is one count per partition."""
    return _global_rank_with_total(keys, cols, out)[0]


def _global_rank_with_total(
    keys: DataFrame, cols: list[str], out: str = "r"
) -> tuple[DataFrame, int]:
    """:func:`global_rank` plus the TOTAL distinct-key count — which
    IS the maximum rank, because ranks are dense 1..N. The total
    falls out of the per-partition counts the ranking already
    collects, so callers that need the rank bound (the prefix-doubling
    combine) get it for ZERO extra jobs instead of a separate
    ``agg(max(r))`` barrier (r12 — one collect job saved per ranking
    round)."""
    spark = keys.sparkSession
    try:
        npart = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        npart = spark.sparkContext.defaultParallelism
    p = (
        keys.repartitionByRange(npart, *cols)
        .sortWithinPartitions(*cols)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)  # pin pid assignment for both passes
    )
    counts = {r["_pid"]: r["n"] for r in p.groupBy("_pid").agg(F.count(F.lit(1)).alias("n")).collect()}
    offsets, acc = [], 0
    for pid in sorted(counts):
        offsets.append((pid, acc))
        acc += counts[pid]
    # offsets ship as a BROADCAST relation, not a create_map literal:
    # at production shuffle-partition counts (10k+) a literal map is a
    # 10k-entry expression in every plan that ranks — constant-size
    # plans matter as much as constant-size driver state (r5 verdict)
    off = F.broadcast(
        p.sparkSession.createDataFrame(offsets, "_pid int, _off bigint")
    )
    w = Window.partitionBy("_pid").orderBy(*cols)
    ranked = (
        p.withColumn("_rn", F.row_number().over(w))
        .join(off, "_pid")
        .withColumn(out, (F.col("_rn") + F.col("_off")).cast("bigint"))
        .drop("_pid", "_rn", "_off")
    )
    return ranked, acc


def repeated_spans_sa(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 8,
    rerank_threshold: int = 1 << 62,
    toks: DataFrame | None = None,
) -> DataFrame:
    """All positions whose ``window``-token span occurs ≥ 2 times in
    the corpus (any document, including intra-document repeats —
    the upgrade over span_scrub's cross-document distinct-df count),
    found WITHOUT materializing a single n-gram string.

    Any ``window`` ≥ 2 (r6): prefix doubling runs to P = the largest
    power of two ≤ W, then one final combine pairs rank_P(pos) with
    rank_P(pos + W − P) — two OVERLAPPING P-token spans cover the
    W-token span exactly (the sparse-table trick), so the final
    equality classes are W-window equality without a single extra
    doubling round. Output: (doc_id, pos, n_dup) with pos 0-based
    and n_dup the total occurrence count of the span.

    ``toks``: an already tokenized corpus, used instead of tokenizing
    ``text_col`` (``df``, ``id_col`` and ``text_col`` are then unused).
    Its columns are ``(doc_id, pos, tk)``, one row per token, and
    ``pos`` must run 0..n-1 within each document with no gaps: the row
    ``k`` ahead in ``pos`` order (``lead``) is read as position
    ``pos + k``, and a span fits when ``pos + window - 1 <= max(pos)``.
    This is the shape ``posexplode`` of a token array gives."""
    assert window >= 2, "window must be >= 2"
    if toks is None:
        toks = df.select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(tokenize_ws(F.lower(F.col(text_col)))).alias("pos", "tk"),
        ).localCheckpoint(eager=False)
    lens = toks.groupBy("doc_id").agg(F.max("pos").alias("max_pos"))
    # dense ranks come with their max (= total) for free — no separate
    # agg(max(r)) collect barrier (r12)
    tok_rank, bound = _global_rank_with_total(
        toks.select("tk").distinct(), ["tk"]
    )
    cur = toks.join(tok_rank, toks["tk"] == tok_rank["tk"]).select(
        "doc_id", "pos", "r"
    )
    # driver-side UPPER BOUND on the current rank values (exact after
    # a re-rank, the arithmetic product bound after a combine): while
    # (B+1)² stays inside int64, the (r, r2) pair can be combined
    # INJECTIVELY as r·(B+2) + r2 — equality classes are identical to
    # a re-rank's but it costs ZERO extra shuffles. The distributed
    # re-rank remains the overflow path: it compresses ranks back to
    # ≤ #positions, which is how the construction stays exact at any
    # corpus size (small vocabularies — including this corpus — never
    # need it; a 100 TB corpus re-ranks every couple of rounds).
    # ``rerank_threshold`` exists for tests to force the re-rank path
    # — both paths produce identical equality classes by construction
    # and tests/test_suffix.py pins the equivalence.

    def combine(cur: DataFrame, shift: int, bound: int) -> tuple[DataFrame, int]:
        """One rank-pair combine: class of (r[pos], r[pos + shift]).

        r12: ``r[pos + shift]`` is fetched with ``lead(r, shift)``
        over a per-document window instead of the former
        self-equi-join on (doc_id, pos − shift) — positions are
        CONTIGUOUS 0..len−1 from posexplode, so the row ``shift``
        ahead in pos order IS position pos+shift, and lead() past the
        document end yields NULL exactly where the join found no
        match. One doc_id Exchange serves every doubling round
        (consecutive windows share partitioning and sort order); the
        join shape paid two Exchanges per round and re-executed the
        cur lineage once per side."""
        w = Window.partitionBy("doc_id").orderBy("pos")
        paired = cur.withColumn(
            "r2",
            F.coalesce(
                F.lead("r", shift).over(w),
                F.lit(0).cast("bigint"),  # sentinel: past end of document
            ),
        )
        if (bound + 2) * (bound + 2) < rerank_threshold:
            nxt = paired.select(
                "doc_id",
                "pos",
                (F.col("r") * (bound + 2) + F.col("r2")).alias("r"),
            )
            return nxt, bound * (bound + 2) + bound + 1
        pair_rank, total = _global_rank_with_total(
            paired.select("r", "r2").distinct(), ["r", "r2"], out="nr"
        )
        nxt = (
            paired.join(pair_rank, ["r", "r2"])
            .select("doc_id", "pos", F.col("nr").alias("r"))
            .localCheckpoint(eager=False)  # truncate the doubling lineage
        )
        return nxt, total

    # P = largest power of two ≤ window; doubling rounds to P, then
    # (for non-power-of-2 windows) one overlapping-span combine
    p2 = 1 << (window.bit_length() - 1)
    k = 1
    while k < p2:
        cur, bound = combine(cur, k, bound)
        k *= 2
    if window > p2:
        cur, bound = combine(cur, window - p2, bound)
    # pin the finished rank relation ONCE (r12): it feeds the class
    # count AND the join below (and, through the returned spans, every
    # consumer in sa_scrub) — without the barrier each reference
    # re-executes the whole doubling chain. Eager, not lazy: under AQE
    # the consumers' stages materialize concurrently, and a lazy mark
    # lets each recompute the chain before either persists it.
    cur = cur.localCheckpoint(eager=True)
    dup = cur.groupBy("r").agg(F.count(F.lit(1)).cast("bigint").alias("n_dup"))
    return (
        cur.join(dup, "r")
        .filter(F.col("n_dup") >= 2)
        .join(lens, "doc_id")
        # full-window spans only: the span must fit inside the doc
        .filter(F.col("pos") + window - 1 <= F.col("max_pos"))
        .select("doc_id", F.col("pos").cast("int").alias("pos"), "n_dup")
    )


def repeated_intervals(
    spans: DataFrame,
    window: int,
) -> DataFrame:
    """Merge the per-position hits of :func:`repeated_spans_sa` into
    MAXIMAL repeated intervals (the detection→action step of Lee et
    al. 2022: what gets removed is the maximal repeated substring,
    not each overlapping W-window separately). Two hit positions p ≤
    q in one document merge when q ≤ p + window — their covers
    [p, p+W−1] and [q, q+W−1] overlap or touch, so the union is one
    contiguous removal region. Classic gaps-and-islands: lag + running
    island counter, both partitioned BY DOCUMENT (the window state is
    bounded by document length, never corpus size).

    Input: (doc_id, pos, ...) hits. Output: (doc_id, start, end,
    n_hits) token intervals, end inclusive."""
    w = Window.partitionBy("doc_id").orderBy("pos")
    islands = (
        spans.select("doc_id", "pos")
        .withColumn("_prev", F.lag("pos").over(w))
        .withColumn(
            "_new",
            (F.col("_prev").isNull() | (F.col("pos") - F.col("_prev") > window))
            .cast("int"),
        )
        .withColumn("_island", F.sum("_new").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ))
    )
    return islands.groupBy("doc_id", "_island").agg(
        F.min("pos").cast("int").alias("start"),
        (F.max("pos") + window - 1).cast("int").alias("end"),
        F.count(F.lit(1)).cast("bigint").alias("n_hits"),
    ).drop("_island")


def sa_scrub(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 8,
    rerank_threshold: int = 1 << 62,
) -> DataFrame:
    """End-to-end exact-substring dedup (Lee et al. 2022): detect
    duplicated ``window``-token spans with the suffix-array
    construction, merge them into maximal repeated intervals, and
    REMOVE the covered tokens — the action `span_scrub`
    (operators/curation.py) performs from its fixed-W n-gram cover,
    now driven by the SA detector (any-W, intra-document repeats
    included, rank shuffles instead of gram strings — the long-W
    scale path).

    Output one row per INPUT document: (doc_id, n_intervals,
    n_removed, n_kept, clean_text) — clean_text is the kept tokens
    joined by single spaces (the same token-domain normalization the
    detector works in; docs with no repeats pass through with their
    token stream intact)."""
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(tokenize_ws(F.lower(F.col(text_col)))).alias("pos", "tk"),
    ).localCheckpoint(eager=False)
    # share the token relation with the detector (r12): the detector
    # otherwise rebuilds and re-checkpoints the identical
    # tokenize+posexplode pass — one full corpus pass saved
    spans = repeated_spans_sa(
        df, id_col, text_col, window=window,
        rerank_threshold=rerank_threshold, toks=toks,
    )
    # ivals feeds the cover explode AND the per-doc interval stats;
    # pin it once (same eager-vs-AQE-concurrency reasoning as the
    # detector's rank relation — it is interval-sized, tiny)
    ivals = repeated_intervals(spans, window).localCheckpoint(eager=True)
    # covered positions: intervals are disjoint by construction, so
    # the explode emits exactly n_removed rows per doc — no dedup pass
    covered = ivals.select(
        "doc_id", F.explode(F.sequence("start", "end")).alias("pos")
    )
    kept = toks.join(covered, ["doc_id", "pos"], "left_anti")
    per_doc = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tk"))),
                lambda s: s["tk"],
            ),
            " ",
        ).alias("clean_text"),
    )
    istats = ivals.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_intervals"),
        F.sum(F.col("end") - F.col("start") + 1).cast("bigint").alias("n_removed"),
    )
    totals = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("_n_toks")
    )
    return (
        totals.join(istats, "doc_id", "left")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_intervals", F.lit(0)).cast("bigint").alias("n_intervals"),
            F.coalesce("n_removed", F.lit(0)).cast("bigint").alias("n_removed"),
            # a fully-covered document keeps zero tokens: per_doc has
            # no row for it, so n_kept/clean_text coalesce to 0 / ''
            F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
    )
