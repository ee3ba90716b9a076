"""Filter-and-refine fuzzy top-k similarity join — the reference
engine's entire query semantics (/root/reference/src/heurFuzz.py,
SURVEY.md §2-§4), re-expressed as a declarative Spark plan:

  one probe per side   (bounded take of raw term hashes)
  prepare_terms        (one scan and one trim per side)
  → term_dictionary    (one row per distinct term, for a side whose
                        terms repeat; the other side stays as rows)
  → candidate generation (cross | inverted index)
  → per-query heuristic top-K (term-level prune, window group-limit)
  → partial_ratio refine (Arrow pandas UDF, once per row)
  → per-query argmax with reference tie-breaks
  → left join back to the query rows + 'NA' fill

Building the plan runs at most one probe job per input side. The
query probe sizes the query side and measures its term repetition;
the reference probe picks the strategy and the reference-side term
granularity.

A term dictionary holds, per distinct trimmed term, its smallest id,
its row count, its byte length and its bigram array, built once after
the aggregation. Coverage and length distance depend only on the two
TERMS, and no order of top-K, refine or the argmax reads q_id, so:
- when query terms repeat ≥2× on average, candidate generation and
  those three stages run once per entry of the query dictionary, and
  the winners fan back out to every query row in the final left join.
  Otherwise they run once per query row: on distinct queries the
  aggregation saves nothing and its extra shuffle stage cost 13% of
  rows/s (100 queries × 12,000 refs, 4 cores);
- when reference terms repeat by the same rule, the inverted index
  joins the two dictionaries, prunes the top-K at term granularity
  and fans out to reference ids only for the pairs that survive.
Every branch reads the same (id, term) columns of a prepared side,
so where ``spread`` repartitions a side (single-split inputs) the
adaptive plan reuses that one exchange instead of scanning again.

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
        # (term dictionary, join back, final left join), and a
        # nondeterministic upstream (e.g. a distinct) could hand each
        # branch different ids. Materialize the id assignment ONCE so
        # every branch sees the same ids.
        out = out.localCheckpoint(eager=False)
    out = out.filter(
        (F.octet_length(F.col(f"{p}_term")) >= 2)
        & (F.octet_length(F.col(f"{p}_term")) <= buffer_size)
    )
    # single-file inputs arrive as one partition; the downstream
    # bigram explode / candidate join must run cluster-wide. The
    # exchange carries (id, term): every branch that reads both
    # columns reuses it, so the input is scanned and trimmed once
    out = spread(out)
    return out.select(f"{p}_id", f"{p}_term", *_term_columns(p))


def _term_columns(p: str) -> list[Column]:
    # the prepared columns derived from the trimmed term
    term = F.col(f"{p}_term")
    return [
        F.octet_length(term).alias(f"{p}_len"),
        byte_bigrams(term).alias(f"{p}_bigrams"),
    ]


def term_dictionary(prepared: DataFrame, p: str) -> DataFrame:
    """One row per distinct ``{p}_term`` of a prepared relation:
    (``{p}_id``, ``{p}_term``, ``{p}_len``, ``{p}_bigrams``,
    ``{p}_cnt``), where ``{p}_id`` is the smallest id holding the term
    and ``{p}_cnt`` how many rows hold it. Every distinct-term
    relation of the join is built here; a relation that already is a
    dictionary (it has ``{p}_cnt``) is returned as it is.

    The representative id must be deterministic: dropDuplicates may
    keep a different row in each branch that reads the relation. The
    aggregate reads (id, term), the columns the row branches read, so
    it shares their exchange instead of scanning the input again. The
    term columns are derived after the aggregation, once per term:
    carrying the bigram array through it (``first``) turns the hash
    aggregate into a sort aggregate and shuffles the arrays."""
    if f"{p}_cnt" in prepared.columns:
        return prepared
    return (
        prepared.groupBy(f"{p}_term")
        .agg(F.min(f"{p}_id").alias(f"{p}_id"), F.count(f"{p}_id").alias(f"{p}_cnt"))
        .select(f"{p}_id", f"{p}_term", *_term_columns(p), f"{p}_cnt")
    )


def _scores(hits: Column, q_len: Column, r_len: Column) -> list[Column]:
    # coverage (bigram hits over the query's len - 1 bigrams) and
    # length distance: one definition for every candidate relation and
    # the term-level prune, so a tie in one is a tie in the others
    return [
        (hits / (q_len - 1)).cast("double").alias("cov"),
        F.abs(q_len - r_len).alias("lendiff"),
    ]


def candidates_cross(queries: DataFrame, refs: DataFrame) -> DataFrame:
    """Dense |Q|×|R| candidate relation (reference STEP3/STEP4 exactly,
    src/heurFuzz.py:47-70) — includes zero-coverage pairs. For small
    reference sets / bit-parity testing only; the scale path is
    :func:`candidates_inverted`.

    coverage: per query-bigram *position*, 1 if that bigram occurs
    anywhere in the ref bigram list (set semantics via array_contains),
    normalized by the query's bigram count.
    """
    hits = F.aggregate(
        F.col("q_bigrams"),
        F.lit(0),
        lambda acc, b: acc
        + F.when(F.array_contains(F.col("r_bigrams"), b), 1).otherwise(0),
    )
    return queries.crossJoin(refs).select(
        "q_id", "q_term", "q_len", "r_id", "r_term", "r_len",
        *_scores(hits, F.col("q_len"), F.col("r_len")),
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
      q side: explode bigrams, pre-aggregate to (q_key, bg, mult) —
        multiplicity preserves the reference's per-position counting;
      r side: explode array_distinct(bigrams) — set semantics == the
        reference's break-on-first-hit (src/heurFuzz.py:43);
      equi-join on the 2-byte key, then groupBy(q_key, r_key) summing
        multiplicities (partial aggregation happens map-side), then
        one join back to the query and the reference relations.

    ``dedup_terms``: coverage and length-distance are pure functions
    of the TERM STRINGS, so on duplicate-heavy vocabularies (the
    reference keeps duplicate lines — SURVEY §1.3 — and real
    vocabularies are Zipfian) the index join + aggregation can run
    over the two term dictionaries, keyed by term, and the join back
    fans each term pair out to every row holding its terms. The
    id-level result — including the r_id tie-break granularity of the
    downstream top-K — is identical; only the join/agg volume shrinks
    (e.g. the driver part-name corpus: 64 distinct names over 20k rows
    → the aggregation shrinks ~300×). ``None`` probes a bounded sample
    of the ref side and enables dedup when terms repeat ≥2× on average.
    Without it, the index is keyed by ``q_id`` and ``r_id`` of the
    relations as given, which may be rows or a query dictionary.

    Pairs sharing no bigram never appear (cov would be 0) — see module
    docstring for the divergence contract.
    """
    if dedup_terms is None:
        dedup_terms = _probe(refs, "r_term")[1]
    hits = _inverted_hits(
        queries, refs, stop_bigram_df_ratio, broadcast_queries, dedup_terms
    )
    return _join_back(hits, queries, refs, dedup_terms)


def _inverted_hits(
    queries: DataFrame,
    refs: DataFrame,
    stop_bigram_df_ratio: float | None,
    broadcast_queries: bool | None,
    by_term: bool,
) -> DataFrame:
    """(q_key, r_key, r_cnt, hits) — the inverted-index join +
    aggregation, keyed by id, or by term over both sides' term
    dictionaries when ``by_term`` (see candidates_inverted docstring).
    ``r_cnt`` is how many reference rows the r_key stands for."""
    key = "term" if by_term else "id"
    q_side = term_dictionary(queries, "q") if by_term else queries
    r_side = term_dictionary(refs, "r") if by_term else refs
    rows = F.col("r_cnt") if by_term else F.lit(1).cast("long")

    # This branch must read the prepared (id, term) exchange exactly as
    # the other readers of the query side do, or it scans the input
    # again: mult counts q_id, not 1, and explode_outer (the same rows:
    # every term has a bigram) adds no size(q_bigrams) > 0 filter that
    # the optimizer would push down into the scan.
    q_bi = (
        q_side.select(
            F.col(f"q_{key}").alias("q_key"), "q_id", F.explode_outer("q_bigrams").alias("bg")
        )
        .groupBy("q_key", "bg")
        .agg(F.count("q_id").alias("mult"))
    )
    r_bi = r_side.select(
        F.col(f"r_{key}").alias("r_key"),
        rows.alias("r_cnt"),
        F.explode(F.array_distinct("r_bigrams")).alias("bg"),
    )

    if stop_bigram_df_ratio is not None:
        # Hot-key guard: drop bigrams occurring in more than the given
        # fraction of refs *for candidate generation only* (recall is
        # then carried by the query's rarer bigrams). Document
        # frequency is always counted over ref ROWS (r_cnt of them per
        # index entry) so the guard's semantics don't depend on by_term.
        n_refs = r_side.agg(F.sum(rows)).first()[0] or 0
        cap = max(int(n_refs * stop_bigram_df_ratio), 1)
        hot = (
            r_bi.groupBy("bg")
            .agg(F.sum("r_cnt").alias("df"))
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
    # otherwise probe the NARROW relation the caller passed (limit-
    # probe) — not q_bi, whose groupBy would execute a whole shuffle
    # job just to decide the hint.
    if broadcast_queries is None:
        broadcast_queries = _probe(queries, "q_term")[0] <= _PROBE_ROWS
    if broadcast_queries:
        q_bi = F.broadcast(q_bi)
    return (
        q_bi.join(r_bi, "bg")
        .groupBy("q_key", "r_key", "r_cnt")
        .agg(F.sum("mult").alias("hits"))
    )


def _join_back(hits: DataFrame, queries: DataFrame, refs: DataFrame, by_term: bool) -> DataFrame:
    """Join (q_key, r_key, hits) back to the query and the reference
    relations — the one fan-out of term-keyed hits to ids, shared by
    the full-candidate and the pruned top-K paths.

    Term-keyed hits are tiny — AQE would coalesce them to ~1 partition
    and the row-multiplying fan-out would run on one core; an explicit
    repartition (which AQE respects) keeps it cluster-wide."""
    key = "term" if by_term else "id"
    if by_term:
        n = hits.sparkSession.sparkContext.defaultParallelism
        hits = hits.repartition(n, "q_key", "r_key")
    q = queries.select("q_id", "q_term", "q_len")
    r = refs.select("r_id", "r_term", "r_len")
    return (
        hits.join(q, hits["q_key"] == q[f"q_{key}"])
        .join(r, hits["r_key"] == r[f"r_{key}"])
        .select(
            "q_id", "q_term", "q_len", "r_id", "r_term", "r_len",
            *_scores(F.col("hits"), F.col("q_len"), F.col("r_len")),
        )
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

    With term dedup active, the index joins the query and the
    reference term dictionaries, and every id-level candidate of one
    (q_term, r_term) pair shares (cov, lendiff). So per q_term the
    id-level top-K can only draw from r_terms whose strictly-better
    (cov, lendiff) groups hold fewer than K ids, counted by the
    dictionary's ``r_cnt``: keep r_terms with before(group) < K
    (before = running id-count minus the current tie-group — the
    default window RANGE frame includes peers, which is exactly the
    tie-group sum), fan out only those, then run the exact id-level
    window top-K on the pruned relation. Result is IDENTICAL to
    topk_candidates(candidates_inverted(...), k) — the boundary
    tie-group fans out whole, so the final r_id tie-break sees every
    id it would have seen — but the fan-out shrinks from |pairs| to
    ≈ |q_terms|·(K + boundary ties) rows. Without dedup it is that
    single id-level window.

    ``queries`` may be prepared rows or the query term dictionary; the
    top-K is per ``q_id`` of what is given. ``lendiff_asc`` selects the
    ranking's lendiff direction: False = the reference's T1 top-K
    order (cov↓, lendiff↓, r_id↓ — SURVEY §2.3 Q1); True = the
    best-match order (cov↓, lendiff↑, r_id↑).
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
        queries, refs, stop_bigram_df_ratio, broadcast_queries, by_term=True
    )
    pairs = hits.select(
        "q_key", "r_key", "r_cnt", "hits",
        *_scores(F.col("hits"), F.octet_length("q_key"), F.octet_length("r_key")),
    )
    ld = F.col("lendiff").asc() if lendiff_asc else F.col("lendiff").desc()
    # default frame = RANGE UNBOUNDED PRECEDING..CURRENT ROW, which
    # includes ORDER BY peers — i.e. the whole current tie-group
    w_cum = Window.partitionBy("q_key").orderBy(F.col("cov").desc(), ld)
    w_grp = Window.partitionBy("q_key", "cov", "lendiff")
    kept = (
        pairs.withColumn("__cum", F.sum("r_cnt").over(w_cum))
        .withColumn("__grp", F.sum("r_cnt").over(w_grp))
        .filter(F.col("__cum") - F.col("__grp") < F.lit(k))
        .select("q_key", "r_key", "hits")
    )
    return topk_candidates(_join_back(kept, queries, refs, by_term=True), k, order)


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

    An unknown ``candidate_strategy`` raises ``ValueError`` before any
    job runs. Building the plan then runs at most one probe job per
    side, each a bounded take of trimmed-term hashes from the RAW
    input (:func:`_probe`), so no probe runs the prepared subtrees:
    - the query probe sizes the query side for the broadcast hint and
      picks the query granularity: the query term dictionary when
      query terms repeat ≥2× on average, the query rows otherwise.
      Candidate generation, top-K, refine and the argmax run once per
      entry of what it picks; from the dictionary, the final left join
      is the one fan-out to the query rows. The result is the same
      either way, because none of those stages' orders reads q_id;
    - the reference probe, skipped when the strategy is ``cross``,
      picks ``auto``'s strategy and, by the same ≥2× rule, whether
      the inverted path joins the reference term dictionary (built
      once, inside :func:`topk_candidates_inverted`) and fans out to
      reference ids after the term-level prune.

    Refine scores each top-K row with ``partial_ratio`` once.
    """
    cfg = config or FuzzyConfig()
    strategy = cfg.candidate_strategy
    if strategy not in ("auto", "cross", "inverted"):
        raise ValueError(f"unknown candidate_strategy: {strategy}")
    q = prepare_terms(queries_raw, query_col, query_id, "q", cfg.buffer_size)
    r = prepare_terms(refs_raw, ref_col, ref_id, "r", cfg.buffer_size)
    n_q, repeated_q = _probe(queries_raw, query_col)
    key = "q_term" if repeated_q else "q_id"
    terms = term_dictionary(q, "q") if repeated_q else q

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
    else:
        # top-K prunes at term granularity before the id fan-out
        topk = topk_candidates_inverted(
            terms, r, cfg.top_k, cfg.stop_bigram_df_ratio,
            broadcast_queries=n_q <= _PROBE_ROWS, dedup_terms=repeated_r,
        )
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
