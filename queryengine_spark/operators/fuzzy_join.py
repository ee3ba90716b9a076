"""Filter-and-refine fuzzy top-k similarity join — the reference
engine's entire query semantics (/root/reference/src/heurFuzz.py,
SURVEY.md §2-§4), re-expressed as a declarative Spark plan:

  one probe per side (bounded take of raw term hashes)
  prepare_terms  →  [distinct query terms, when queries repeat]
                 →  candidate generation (cross | inverted-index)
                 →  per-query heuristic top-K (window group-limit)
                 →  partial_ratio refine (Arrow pandas UDF, once per row)
                 →  per-query argmax with reference tie-breaks
                 →  left join back + 'NA' fill

Building the plan runs at most one probe job per input side. The
query probe sizes the query side and measures its term repetition;
the reference probe picks the strategy and the reference-side term
dedup.

The four middle stages depend only on the query TERM (no order they
use reads q_id). So when query terms repeat ≥2× on average (the rule
the ref side's term dedup uses) they run once per distinct trimmed
term, and the winners fan back out to every query row in the final
left join. Otherwise they run once per query row: on distinct queries
the aggregation saves nothing and its extra shuffle stage cost 13% of
rows/s (100 queries × 12,000 refs, 4 cores). Where a stage runs per
distinct term, the terms are made distinct first and each term's
bigram array is built after that, once.

Reference semantics preserved (cites into /root/reference/):
- coverage = (# query-bigram positions whose bigram occurs in the
  ref's bigram SET) / (# query bigrams): query side counts
  multiplicity, ref side is set-semantics via the break-on-first-hit
  (src/heurFuzz.py:34-44,47-62).
- top-K order: coverage DESC, then length-difference DESC (yes,
  farthest first — SURVEY §2.3 Q1), then ref input order DESC
  (np.lexsort stability + the [::-1] reversal, src/heurFuzz.py:87-89).
- refine: partial_ratio with str.lower processor, strict score
  cutoff → 0, uint8 rounding (src/heurFuzz.py:106-112, SURVEY Q6).
- winner: max score; ties → min length-difference; residual ties →
  first in candidate order (src/heurFuzz.py:113-125, SURVEY Q2) —
  i.e. ORDER BY score DESC, lendiff ASC, cov DESC, r_id DESC.
- every query emitted exactly once, unmatched → literal 'NA'
  (src/heurFuzz.py:114-115,131-136).

Documented divergences (flag-gated, SURVEY §2.3/§4.3): the
inverted-index strategy never sees zero-coverage pairs, so when a
query has fewer than K positive-coverage candidates the refine pool
is smaller than the reference's (use strategy='cross' for bit-parity
on small inputs); Q3 index-0 padding when K > |R| is not reproduced.

Scale design (SURVEY §4.3): the reference materializes dense
float64[|R|,|Q|] matrices — 8 TB at 1M×1M. Here candidate generation
is an equi-join on 2-byte bigram keys with map-side pre-aggregation
on both sides, AQE skew-join splitting, and an optional
stop-bigram document-frequency cap for hot keys; the per-query top-K
is a WindowGroupLimit (partial top-k before shuffle). Nothing is
collected to the driver but the probes' bounded term-hash samples.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from queryengine_spark.config import FuzzyConfig
from queryengine_spark.functions.similarity import partial_ratio_udf
from queryengine_spark.functions.text import byte_bigrams, ws_trim
from queryengine_spark.plans import spread


def prepare_terms(
    df: DataFrame,
    term_col: str,
    id_col: str | None = None,
    prefix: str = "q",
    buffer_size: int = 500,
) -> DataFrame:
    """Normalize a term relation to (``{p}_id``, ``{p}_term``,
    ``{p}_len``, ``{p}_bigrams``).

    Applies the input contract of SURVEY §1.3: Python-parity trim,
    terms must be 2..buffer_size UTF-8 bytes (the reference crashes /
    hard-exits outside this; we filter). If ``id_col`` is None an
    input-order id is synthesized via a zipWithIndex-free monotonic id
    — callers that need exact input-line order (golden tests) should
    pass an explicit id.
    """
    p = prefix
    term = ws_trim(F.col(term_col))
    out = df.select(
        (F.col(id_col).cast("long") if id_col else F.monotonically_increasing_id()).alias(f"{p}_id"),
        term.alias(f"{p}_term"),
    )
    if id_col is None:
        # monotonically_increasing_id is re-evaluated per plan branch;
        # the prepared relation is consumed by several subtrees
        # (bigram index, attribute table, final left join), and a
        # nondeterministic upstream (e.g. a distinct) could hand each
        # branch different ids. Materialize the id assignment ONCE so
        # every branch sees the same ids.
        out = out.localCheckpoint(eager=False)
    out = out.filter(
        (F.octet_length(F.col(f"{p}_term")) >= 2)
        & (F.octet_length(F.col(f"{p}_term")) <= buffer_size)
    )
    # single-file inputs arrive as one partition; the downstream
    # bigram explode / candidate join must run cluster-wide
    out = spread(out)
    return out.select(f"{p}_id", f"{p}_term", *_term_columns(p))


def _term_columns(p: str) -> list[Column]:
    # the prepared columns derived from the trimmed term
    term = F.col(f"{p}_term")
    return [
        F.octet_length(term).alias(f"{p}_len"),
        byte_bigrams(term).alias(f"{p}_bigrams"),
    ]


def _with_lendiff(cands: DataFrame) -> DataFrame:
    return cands.withColumn("lendiff", F.abs(F.col("q_len") - F.col("r_len")))


def candidates_cross(queries: DataFrame, refs: DataFrame) -> DataFrame:
    """Dense |Q|×|R| candidate relation (reference STEP3/STEP4 exactly,
    src/heurFuzz.py:47-70) — includes zero-coverage pairs. For small
    reference sets / bit-parity testing only; the scale path is
    :func:`candidates_inverted`.

    coverage: per query-bigram *position*, 1 if that bigram occurs
    anywhere in the ref bigram list (set semantics via array_contains),
    normalized by the query's bigram count.
    """
    joined = queries.crossJoin(refs)
    hits = F.aggregate(
        F.col("q_bigrams"),
        F.lit(0),
        lambda acc, b: acc
        + F.when(F.array_contains(F.col("r_bigrams"), b), 1).otherwise(0),
    )
    cov = hits / F.size(F.col("q_bigrams"))
    return _with_lendiff(
        joined.select(
            "q_id", "q_term", "q_len", "r_id", "r_term", "r_len",
            cov.cast("double").alias("cov"),
        )
    )


def candidates_inverted(
    queries: DataFrame,
    refs: DataFrame,
    stop_bigram_df_ratio: float | None = None,
    broadcast_queries: bool | None = None,
    dedup_terms: bool | None = None,
) -> DataFrame:
    """Sparse candidate generation via a bigram inverted index
    (SURVEY §4.3) — the 100 TB path.

    Plan shape:
      q side: explode bigrams, pre-aggregate to (q_id, bg, mult) —
        multiplicity preserves the reference's per-position counting;
      r side: explode array_distinct(bigrams) — set semantics == the
        reference's break-on-first-hit (src/heurFuzz.py:43);
      equi-join on the 2-byte key, then groupBy(q_id, r_id) summing
      multiplicities (partial aggregation happens map-side), then
      join back the narrow q/r attribute tables.

    ``dedup_terms``: coverage and length-distance are pure functions
    of the TERM STRINGS, so on duplicate-heavy vocabularies (the
    reference keeps duplicate lines — SURVEY §1.3 — and real
    vocabularies are Zipfian) the index join + aggregation can run
    once per DISTINCT (q_term, r_term) pair and fan the (id, term)
    maps back out afterwards. The id-level result — including the
    r_id tie-break granularity of the downstream top-K — is
    identical; only the join/agg volume shrinks (e.g. the driver
    part-name corpus: 64 distinct names over 20k rows → the
    aggregation shrinks ~300×). ``None`` probes a bounded sample of
    the ref side and enables dedup when terms repeat ≥2× on average.

    Pairs sharing no bigram never appear (cov would be 0) — see module
    docstring for the divergence contract.
    """
    if dedup_terms is None:
        dedup_terms = _probe(refs, "r_term")[1]
    hits = _inverted_hits(
        queries, refs, stop_bigram_df_ratio, broadcast_queries, dedup_terms
    )
    if dedup_terms:
        return _fan_out_terms(hits, queries, refs)
    q_attrs = queries.select("q_id", "q_term", "q_len", F.size("q_bigrams").alias("q_nbg"))
    r_attrs = refs.select("r_id", "r_term", "r_len")
    out = (
        hits.join(q_attrs, hits["q_key"] == q_attrs["q_id"])
        .join(r_attrs, hits["r_key"] == r_attrs["r_id"])
        .select(
            "q_id", "q_term", "q_len", "r_id", "r_term", "r_len",
            (F.col("hits") / F.col("q_nbg")).cast("double").alias("cov"),
        )
    )
    return _with_lendiff(out)


def _fan_out_terms(hits: DataFrame, queries: DataFrame, refs: DataFrame) -> DataFrame:
    """Fan distinct-term (q_key, r_key, hits) rows back out to id
    granularity — the ONE definition shared by the full-candidate and
    pruned-top-K paths (the prune's tie-group equality argument needs
    cov computed by the identical expression in both).

    The deduped hits relation is tiny — AQE would coalesce it to ~1
    partition and the row-multiplying fan-out would run on one core;
    explicit repartition (which AQE respects) keeps it cluster-wide.
    The attribute joins are plain hash joins on the term string."""
    n = hits.sparkSession.sparkContext.defaultParallelism
    hits = hits.repartition(n, "q_key", "r_key")
    q_attrs = queries.select("q_id", "q_term", "q_len", F.size("q_bigrams").alias("q_nbg"))
    r_attrs = refs.select("r_id", "r_term", "r_len")
    out = (
        hits.join(q_attrs, hits["q_key"] == q_attrs["q_term"])
        .join(r_attrs, hits["r_key"] == r_attrs["r_term"])
        .select(
            "q_id", "q_term", "q_len", "r_id", "r_term", "r_len",
            (F.col("hits") / F.col("q_nbg")).cast("double").alias("cov"),
        )
    )
    return _with_lendiff(out)


def _inverted_hits(
    queries: DataFrame,
    refs: DataFrame,
    stop_bigram_df_ratio: float | None,
    broadcast_queries: bool | None,
    dedup_terms: bool,
) -> DataFrame:
    """(q_key, r_key, hits) — the inverted-index join + aggregation at
    id granularity, or at distinct-TERM granularity when dedup_terms
    (see candidates_inverted docstring). The distinct-term sides build
    each term's bigram array once, after the distinct: carrying the
    per-row arrays through it would shuffle them and turn the hash
    aggregate into a sort aggregate."""
    q_side = (
        _term_keys(queries, "q")
        if dedup_terms
        else queries.select(F.col("q_id").alias("q_key"), "q_bigrams")
    )
    r_side = (
        _term_keys(refs, "r")
        if dedup_terms
        else refs.select(F.col("r_id").alias("r_key"), "r_bigrams")
    )

    q_bi = (
        q_side.select("q_key", F.explode("q_bigrams").alias("bg"))
        .groupBy("q_key", "bg")
        .agg(F.count(F.lit(1)).alias("mult"))
    )
    r_bi = r_side.select("r_key", F.explode(F.array_distinct("r_bigrams")).alias("bg"))

    if stop_bigram_df_ratio is not None:
        # Hot-key guard: drop bigrams occurring in more than the given
        # fraction of refs *for candidate generation only* (recall is
        # then carried by the query's rarer bigrams). Document
        # frequency is always counted over ref ROWS (not distinct
        # terms) so the guard's semantics don't depend on dedup_terms.
        n_refs = refs.count()
        cap = max(int(n_refs * stop_bigram_df_ratio), 1)
        hot = (
            refs.select("r_id", F.explode(F.array_distinct("r_bigrams")).alias("bg"))
            .groupBy("bg")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > cap)
            .select("bg")
        )
        r_bi = r_bi.join(F.broadcast(hot), "bg", "left_anti")
        q_bi = q_bi.join(F.broadcast(hot), "bg", "left_anti")

    # the pre-aggregated query-side index is tiny relative to the ref
    # side in the typical workload (|Q| ≪ |R| after pre-agg); let the
    # ref side stream map-side against a broadcast of it when small,
    # avoiding the shuffle of the exploded ref index entirely.
    # Callers that already know the query-side size pass the hint;
    # otherwise probe the NARROW prepared relation (limit-probe) — not
    # q_bi, whose groupBy would execute a whole shuffle job just to
    # decide the hint.
    if broadcast_queries is None:
        broadcast_queries = _probe(queries, "q_term")[0] <= _PROBE_ROWS
    if broadcast_queries:
        q_bi = F.broadcast(q_bi)
    return (
        q_bi.join(r_bi, "bg")
        .groupBy("q_key", "r_key")
        .agg(F.sum("mult").alias("hits"))
    )


def _term_keys(prepared: DataFrame, p: str) -> DataFrame:
    # ({p}_key, {p}_bigrams) per distinct term of a prepared relation
    _, bigrams = _term_columns(p)
    return (
        prepared.select(f"{p}_term")
        .distinct()
        .select(F.col(f"{p}_term").alias(f"{p}_key"), bigrams)
    )


def topk_candidates_inverted(
    queries: DataFrame,
    refs: DataFrame,
    k: int,
    stop_bigram_df_ratio: float | None = None,
    broadcast_queries: bool | None = None,
    dedup_terms: bool | None = None,
    lendiff_asc: bool = False,
) -> DataFrame:
    """Per-query top-K candidates straight from the inverted index,
    PRUNING at term granularity before any id fan-out.

    With term dedup active, every id-level candidate of one
    (q_term, r_term) pair shares (cov, lendiff), so per q_term the
    id-level top-K can only draw from r_terms whose strictly-better
    (cov, lendiff) groups hold fewer than K ids: keep r_terms with
    before(group) < K (before = running id-count minus the current
    tie-group — the default window RANGE frame includes peers, which
    is exactly the tie-group sum), fan out only those, then run the
    exact id-level window top-K on the pruned relation. Result is
    IDENTICAL to topk_candidates(candidates_inverted(...), k) — the
    boundary tie-group fans out whole, so the final r_id tie-break
    sees every id it would have seen — but the fan-out shrinks from
    |pairs| to ≈ |q_terms|·(K + boundary ties) rows.

    ``lendiff_asc`` selects the ranking's lendiff direction: False =
    the reference's T1 top-K order (cov↓, lendiff↓, r_id↓ — SURVEY
    §2.3 Q1); True = the best-match order (cov↓, lendiff↑, r_id↑).
    """
    order = _best_match_order() if lendiff_asc else None
    if dedup_terms is None:
        dedup_terms = _probe(refs, "r_term")[1]
    if not dedup_terms:
        cands = candidates_inverted(
            queries, refs, stop_bigram_df_ratio, broadcast_queries, dedup_terms=False
        )
        return topk_candidates(cands, k, order)

    hits = _inverted_hits(
        queries, refs, stop_bigram_df_ratio, broadcast_queries, dedup_terms=True
    )
    q_len, q_bigrams = _term_columns("q")
    r_len, _ = _term_columns("r")
    q_terms = (
        queries.select("q_term")
        .distinct()
        .select("q_term", q_len, F.size(q_bigrams).alias("q_nbg"))
    )
    r_terms = (
        refs.groupBy("r_term")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select("r_term", "cnt", r_len)
    )
    term_cands = (
        hits.join(q_terms, hits["q_key"] == q_terms["q_term"])
        .join(r_terms, hits["r_key"] == r_terms["r_term"])
        .select(
            "q_key", "r_key", "cnt", "hits",
            (F.col("hits") / F.col("q_nbg")).cast("double").alias("cov"),
            F.abs(F.col("q_len") - F.col("r_len")).alias("lendiff"),
        )
    )
    ld = F.col("lendiff").asc() if lendiff_asc else F.col("lendiff").desc()
    # default frame = RANGE UNBOUNDED PRECEDING..CURRENT ROW, which
    # includes ORDER BY peers — i.e. the whole current tie-group
    w_cum = Window.partitionBy("q_key").orderBy(F.col("cov").desc(), ld)
    w_grp = Window.partitionBy("q_key", "cov", "lendiff")
    kept = (
        term_cands.withColumn("__cum", F.sum("cnt").over(w_cum))
        .withColumn("__grp", F.sum("cnt").over(w_grp))
        .filter(F.col("__cum") - F.col("__grp") < F.lit(k))
        .select("q_key", "r_key", "hits")
    )
    return topk_candidates(_fan_out_terms(kept, queries, refs), k, order)


def _distinct_terms(prepared: DataFrame) -> DataFrame:
    """One row per distinct ``q_term`` of a prepared query relation,
    represented by its smallest ``q_id``. The representative must be
    deterministic: dropDuplicates may keep a different row in each
    plan branch that reads the relation, and the id-level
    ``q_key = q_id`` join would then lose rows. The term columns are
    derived again after the aggregation: carrying the bigram array
    through it (``first``) turns the hash aggregate into a sort
    aggregate and shuffles the arrays."""
    return (
        prepared.groupBy("q_term")
        .agg(F.min("q_id").alias("q_id"))
        .select("q_id", "q_term", *_term_columns("q"))
    )


def _topk_order() -> list[Column]:
    # total order of the heuristic top-K stage (SURVEY §2.3 Q1):
    # coverage DESC, length-difference DESC, ref input order DESC
    return [F.col("cov").desc(), F.col("lendiff").desc(), F.col("r_id").desc()]


def _best_match_order() -> list[Column]:
    # the cheap-path argmax order (closest length first, then lowest
    # ref id) — used by the heuristic best-match query
    return [F.col("cov").desc(), F.col("lendiff").asc(), F.col("r_id").asc()]


def topk_candidates(
    cands: DataFrame, k: int, order: list[Column] | None = None
) -> DataFrame:
    """Per-query top-K (reference T1, src/heurFuzz.py:81-90) under
    ``order`` (default: the reference's T1 total order).
    row_number() <= k compiles to a WindowGroupLimit in Spark >= 3.5."""
    w = Window.partitionBy("q_id").orderBy(*(order or _topk_order()))
    return (
        cands.withColumn("cand_rank", F.row_number().over(w))
        .filter(F.col("cand_rank") <= F.lit(k))
        .drop("cand_rank")
    )


def refine_candidates(topk: DataFrame, score_cutoff: int) -> DataFrame:
    """Refine stage (reference R1, src/heurFuzz.py:96-112): raw
    partial_ratio via the Arrow pandas UDF, then cutoff (strict <) and
    half-up integer rounding applied JVM-side."""
    raw = partial_ratio_udf(F.col("q_term"), F.col("r_term"))
    scored = topk.withColumn("raw_score", raw)
    return scored.withColumn(
        "score",
        F.when(F.col("raw_score") < F.lit(float(score_cutoff)), F.lit(0))
        .otherwise(F.round(F.col("raw_score")))
        .cast("int"),
    ).drop("raw_score")


def select_best(scored: DataFrame) -> DataFrame:
    """Winner selection (reference R2, src/heurFuzz.py:113-125):
    max score → min lendiff → first in candidate order, which under
    the Q1 candidate ordering is cov DESC then r_id DESC. Rows with
    score 0 (all below cutoff) produce no winner.

    The ``score > 0`` test runs after the window, on the rank-1 row:
    placed before it, the optimizer pushes the filter below the
    projection that defines ``score`` and evaluates the scoring UDF a
    second time. The rank-1 row has the query's highest score, so it
    scores 0 only when every row of the query does, and the winners
    are the same."""
    w = Window.partitionBy("q_id").orderBy(
        F.col("score").desc(),
        F.col("lendiff").asc(),
        F.col("cov").desc(),
        F.col("r_id").desc(),
    )
    return (
        scored.withColumn("best_rank", F.row_number().over(w))
        .filter((F.col("best_rank") == 1) & (F.col("score") > 0))
        .select("q_id", "q_term", F.col("r_term").alias("match"), F.col("score"))
    )


@dataclass
class FuzzyMatchResult:
    #: (q_id, query, match, score) — match is 'NA' when unmatched
    matches: DataFrame


def fuzzy_match(
    queries_raw: DataFrame,
    refs_raw: DataFrame,
    query_col: str = "term",
    ref_col: str = "term",
    query_id: str | None = None,
    ref_id: str | None = None,
    config: FuzzyConfig | None = None,
) -> DataFrame:
    """End-to-end fuzzy top-k match: the reference ``run()`` pipeline
    (src/heurFuzz.py:138-170) as one composed DataFrame plan.

    Returns (q_id, query, match, score); every input query (meeting
    the 2..buffer-byte contract) appears exactly once; unmatched
    queries carry match='NA', score=0 (reference R3).

    Building the plan runs at most one probe job per side, each a
    bounded take of trimmed-term hashes from the RAW input
    (:func:`_probe`), so no probe runs the prepared subtrees:
    - the query probe sizes the query side for the broadcast hint and
      picks the query granularity. Candidate generation, top-K,
      refine and the argmax run once per distinct trimmed query term
      when query terms repeat ≥2× on average, and once per query row
      otherwise. The result is the same either way, because none of
      those stages' orders reads q_id;
    - the reference probe, skipped when the strategy is ``cross``,
      picks ``auto``'s strategy and, by the same ≥2× rule, whether
      the inverted path joins candidates per distinct reference term.

    Refine scores each top-K row with ``partial_ratio`` once.
    """
    cfg = config or FuzzyConfig()
    q = prepare_terms(queries_raw, query_col, query_id, "q", cfg.buffer_size)
    r = prepare_terms(refs_raw, ref_col, ref_id, "r", cfg.buffer_size)
    n_q, repeated_q = _probe(queries_raw, query_col)
    key = "q_term" if repeated_q else "q_id"
    terms = _distinct_terms(q) if repeated_q else q

    strategy = cfg.candidate_strategy
    if strategy != "cross":
        n_r, repeated_r = _probe(
            refs_raw, ref_col, max(_PROBE_ROWS, cfg.auto_cross_threshold)
        )
    if strategy == "auto":
        # tiny reference sets: dense mode costs nothing and keeps the
        # reference's zero-coverage candidate behavior
        strategy = "cross" if n_r <= cfg.auto_cross_threshold else "inverted"

    if strategy == "cross":
        topk = topk_candidates(candidates_cross(terms, r), cfg.top_k)
    elif strategy == "inverted":
        # top-K prunes at term granularity before the id fan-out
        topk = topk_candidates_inverted(
            terms, r, cfg.top_k, cfg.stop_bigram_df_ratio,
            broadcast_queries=n_q <= _PROBE_ROWS, dedup_terms=repeated_r,
        )
    else:
        raise ValueError(f"unknown candidate_strategy: {strategy}")
    scored = refine_candidates(topk, cfg.score_cutoff)
    best = select_best(scored)

    return (
        q.select("q_id", "q_term")
        .join(best.select(key, "match", "score"), key, "left")
        .select(
            "q_id",
            F.col("q_term").alias("query"),
            F.coalesce(F.col("match"), F.lit("NA")).alias("match"),
            F.coalesce(F.col("score"), F.lit(0)).alias("score"),
        )
    )


#: rows a probe takes by default; a query side of at most this many
#: rows is broadcast
_PROBE_ROWS = 20_000


def _probe(df: DataFrame, term_col: str, sample: int = _PROBE_ROWS) -> tuple[int, bool]:
    """One narrow job that takes the trimmed-term hashes of at most
    ``sample + 1`` rows, instead of a full count. Returns how many rows
    it took (``<= sample`` means the relation has no more) and whether
    those terms repeat ≥2× on average: the rule for running a stage
    once per distinct term."""
    hashes = [
        row[0]
        for row in df.limit(sample + 1)
        .select(F.xxhash64(ws_trim(F.col(term_col))))
        .take(sample + 1)
    ]
    return len(hashes), len(hashes) >= 2 * max(len(set(hashes)), 1)


def map_ratio(matches: DataFrame) -> DataFrame:
    """Run metric (reference A2, src/heurFuzz.py:127-128):
    mapped/total*100 over the match relation."""
    return matches.agg(
        F.count(F.lit(1)).alias("total"),
        F.sum((F.col("match") != "NA").cast("int")).alias("mapped"),
        F.round(
            F.sum((F.col("match") != "NA").cast("int")) / F.count(F.lit(1)) * 100, 2
        ).alias("map_ratio"),
    )
