"""Training-data pipeline queries — the operations a large-scale LLM
data pipeline runs beyond dedup/ANN: heuristic quality filtering
(Gopher-style rules), train/test decontamination (cross-corpus n-gram
overlap), deterministic weighted corpus mixing, and the event-series
shapes (funnel, cohort retention, time-gap fill) used to QA
interaction logs. Every query has a DuckDB-parity oracle.

Scale notes (each query's plan at 100 TB):
- quality rules are one projection + one (doc, token) partial-agg
  pass — no joins, fully map-side except the token-mode shuffle;
- decontamination is an inverted-index equi-join on word trigrams
  with a document-frequency guard (hot shingles dropped on BOTH
  engines) — never all-pairs, and the benchmark side of a real
  decontamination run is tiny (broadcastable);
- mixing is a stateless hash filter (no shuffle at all, fully
  deterministic — re-running selects the same rows);
- funnel/retention shuffle once on user_id; gap-fill's time grid is
  sequence()-generated executor-side, never a driver loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from queryengine_spark.functions.sketches import hash_fraction, sql_hash_fraction
from queryengine_spark.functions.text import tokenize_ws
from queryengine_spark.plans import spread
from queryengine_spark.queries.base import fround, t
from queryengine_spark.queries.textstats import _TOKS

_TOKS_LOW = _TOKS.format(c="lower(text)")


def _fr6(x: str) -> str:
    return f"floor(({x}) * 1000000.0 + 0.5) / 1000000.0"


# ---------------------------------------------------------------------------
# Gopher-style quality rules
# ---------------------------------------------------------------------------

#: rule bounds (Rae et al. 2021, "Scaling Language Models" §A1.1
#: repetition/quality filters, adapted to the synthetic corpus sizes)
GOPHER_MIN_TOKENS = 10
GOPHER_MAX_TOKENS = 100_000
GOPHER_MIN_MEAN_LEN = 2.0
GOPHER_MAX_MEAN_LEN = 12.0
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MAX_TOP_TOKEN_RATIO = 0.3


def text_gopher_quality(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document Gopher-style quality metrics + keep flag:
    token count bounds, mean token length bounds, symbol-to-char
    ratio, and top-token repetition ratio (most frequent token's
    share — the single-token degenerate-repetition rule). One
    projection pass plus one (doc_id, token) partial-agg shuffle for
    the mode; everything else is map-side."""
    d = t(spark, sf, "documents")
    toks = tokenize_ws(F.lower(F.col("text")))
    base = spread(d).select(
        "doc_id", toks.alias("toks"), F.lower(F.col("text")).alias("tl")
    )
    stats = base.select(
        "doc_id",
        F.size("toks").cast("bigint").alias("n_tokens"),
        F.when(
            F.size("toks") > 0,
            F.length(F.concat_ws("", F.col("toks"))) / F.size("toks"),
        ).alias("mean_token_len"),
        F.when(
            F.length("tl") > 0,
            F.length(F.regexp_replace("tl", r"[a-z0-9\s]", "")) / F.length("tl"),
        ).alias("symbol_ratio"),
    )
    top = (
        base.select("doc_id", F.explode("toks").alias("tk"))
        .groupBy("doc_id", "tk")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_c"))
    )
    j = stats.join(top, "doc_id", "left").withColumn(
        "top_token_ratio",
        F.when(F.col("n_tokens") > 0, F.col("top_c") / F.col("n_tokens")),
    )
    keep = (
        F.col("n_tokens").between(GOPHER_MIN_TOKENS, GOPHER_MAX_TOKENS)
        & F.col("mean_token_len").between(GOPHER_MIN_MEAN_LEN, GOPHER_MAX_MEAN_LEN)
        & (F.col("symbol_ratio") < GOPHER_MAX_SYMBOL_RATIO)
        & (F.col("top_token_ratio") < GOPHER_MAX_TOP_TOKEN_RATIO)
    )
    return j.select(
        "doc_id",
        "n_tokens",
        fround("mean_token_len", 6).alias("mean_token_len"),
        fround("symbol_ratio", 6).alias("symbol_ratio"),
        fround("top_token_ratio", 6).alias("top_token_ratio"),
        F.coalesce(keep, F.lit(False)).cast("int").alias("keep"),
    )


GOPHER_SQL = f"""
WITH d AS (SELECT doc_id, {_TOKS_LOW} AS toks, lower(text) AS tl FROM documents),
stats AS (SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       CASE WHEN len(toks) > 0
            THEN length(array_to_string(toks, '')) / len(toks) END AS mean_token_len,
       CASE WHEN length(tl) > 0
            THEN length(regexp_replace(tl, '[a-z0-9\\s]', '', 'g')) / length(tl)
            END AS symbol_ratio
       FROM d),
tok AS (SELECT doc_id, unnest(toks) AS tk FROM d),
top AS (SELECT doc_id, max(c) AS top_c FROM
        (SELECT doc_id, tk, count(*) AS c FROM tok GROUP BY doc_id, tk)
        GROUP BY doc_id)
SELECT s.doc_id, s.n_tokens,
       {_fr6("s.mean_token_len")} AS mean_token_len,
       {_fr6("s.symbol_ratio")} AS symbol_ratio,
       {_fr6("t.top_c / s.n_tokens")} AS top_token_ratio,
       CAST(COALESCE(
         s.n_tokens BETWEEN {GOPHER_MIN_TOKENS} AND {GOPHER_MAX_TOKENS}
         AND s.mean_token_len BETWEEN {GOPHER_MIN_MEAN_LEN} AND {GOPHER_MAX_MEAN_LEN}
         AND s.symbol_ratio < {GOPHER_MAX_SYMBOL_RATIO}
         AND (t.top_c / s.n_tokens) < {GOPHER_MAX_TOP_TOKEN_RATIO}, FALSE)
       AS INT) AS keep
FROM stats s LEFT JOIN top t ON s.doc_id = t.doc_id
"""


# ---------------------------------------------------------------------------
# Gopher-style repetition rules
# ---------------------------------------------------------------------------


def text_repetition_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document repetition metrics (the Gopher repetition-filter
    family, Rae et al. 2021 §A1.1): duplicate-token fraction, the
    character share of the heaviest word bigram (count × length, the
    most-common-n-gram rule with a deterministic tiebreak via the
    max of the product), and the character share of word trigrams
    occurring ≥ 2 times. Character shares are over the
    whitespace-normalized text length; overlapping trigram
    occurrences can push the duplicate share past 1.0 by
    construction (documented Gopher quirk). Three (doc, gram)
    partial-agg shuffles, all narrow."""
    d = t(spark, sf, "documents")
    toks = tokenize_ws(F.lower(F.col("text")))
    base = (
        spread(d)
        .select("doc_id", toks.alias("toks"))
        .filter(F.size("toks") > 0)
        .withColumn("denom", F.length(F.concat_ws(" ", F.col("toks"))))
    )
    tokstats = (
        base.select("doc_id", F.explode("toks").alias("tk"))
        .groupBy("doc_id", "tk")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("bigint").alias("n_tokens"),
            F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
        )
    )
    bg_top = (
        base.select("doc_id", F.explode(_word_ngrams(F.col("toks"), 2)).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max(F.col("c") * F.length("g")).cast("bigint").alias("top_cover"))
    )
    tg_dup = (
        base.select("doc_id", F.explode(_word_ngrams(F.col("toks"), 3)).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.when(F.col("c") >= 2, F.col("c") * F.length("g")).otherwise(0)
            ).cast("bigint").alias("dup_chars")
        )
    )
    return (
        base.select("doc_id", "denom")
        .join(tokstats, "doc_id")
        .join(bg_top, "doc_id", "left")
        .join(tg_dup, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            fround((F.col("n_tokens") - F.col("n_distinct")) / F.col("n_tokens"), 6).alias(
                "dup_token_frac"
            ),
            fround(
                F.coalesce("top_cover", F.lit(0)) / F.col("denom"), 6
            ).alias("top_bigram_char_frac"),
            fround(
                F.coalesce("dup_chars", F.lit(0)) / F.col("denom"), 6
            ).alias("dup_trigram_char_frac"),
        )
    )


REPETITION_SQL = f"""
WITH d AS (SELECT doc_id, {_TOKS_LOW} AS toks FROM documents),
b AS (SELECT doc_id, toks, length(array_to_string(toks, ' ')) AS denom
      FROM d WHERE len(toks) > 0),
tc AS (SELECT doc_id, tk, count(*) AS c
       FROM (SELECT doc_id, unnest(toks) AS tk FROM b) GROUP BY doc_id, tk),
ts AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
              CAST(count(*) AS BIGINT) AS n_distinct
       FROM tc GROUP BY doc_id),
bgc AS (SELECT doc_id, g, count(*) AS c FROM
        (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
                i -> toks[i] || ' ' || toks[i + 1])) AS g FROM b)
        GROUP BY doc_id, g),
bgm AS (SELECT doc_id, CAST(max(c * length(g)) AS BIGINT) AS top_cover
        FROM bgc GROUP BY doc_id),
tgc AS (SELECT doc_id, g, count(*) AS c FROM
        (SELECT doc_id, unnest(list_transform(range(1, len(toks) - 1),
                i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])) AS g FROM b)
        GROUP BY doc_id, g),
tgd AS (SELECT doc_id,
               CAST(sum(CASE WHEN c >= 2 THEN c * length(g) ELSE 0 END) AS BIGINT)
                 AS dup_chars
        FROM tgc GROUP BY doc_id)
SELECT b.doc_id, ts.n_tokens,
       {_fr6("(ts.n_tokens - ts.n_distinct) / ts.n_tokens")} AS dup_token_frac,
       {_fr6("COALESCE(bgm.top_cover, 0) / b.denom")} AS top_bigram_char_frac,
       {_fr6("COALESCE(tgd.dup_chars, 0) / b.denom")} AS dup_trigram_char_frac
FROM b
JOIN ts USING (doc_id)
LEFT JOIN bgm USING (doc_id)
LEFT JOIN tgd USING (doc_id)
"""


# ---------------------------------------------------------------------------
# Train/test decontamination
# ---------------------------------------------------------------------------

#: pseudo-benchmark: a 21-token span (tokens 5..25) of every 97th doc
#: plays a held-out test item that leaked into the training corpus —
#: its source doc is a guaranteed verbatim hit, word-shuffled
#: near-dups are partial hits (the synthetic corpus shares bags of
#: words, not word ORDER, so whole-doc trigram overlap is ~5% max;
#: span leakage is the shape decontamination actually hunts)
DECON_BENCH_MOD = 97
DECON_SPAN_START = 5  # 1-based token index
DECON_SPAN_LEN = 21
#: word-trigram document-frequency guard (df over the TRAINING
#: corpus): trigrams in > 5% of docs carry no contamination signal
#: and would make the inverted join quadratic on hot keys — dropped
#: from both sides, identically on both engines
DECON_MAX_DF_RATIO = 0.05
DECON_MIN_OVERLAP = 0.5


def _word_ngrams(toks, n: int):
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, i + j) for j in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _word_trigrams(toks):
    return _word_ngrams(toks, 3)


def dedup_decontaminate(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-corpus contamination scan: for each training doc, the
    fraction of a benchmark item's distinct word trigrams it
    contains. The benchmark relation is a token SPAN of every
    ``DECON_BENCH_MOD``-th doc (a leaked test item); training is the
    full corpus. Inverted-index equi-join on the trigram — never
    all-pairs — with a df-ratio guard (df over the training corpus)
    so hot trigrams can't blow the join up; the guard drops the same
    shingles from numerator and denominator on both engines, so
    hashes still match. Flags (train, bench) pairs with overlap >=
    ``DECON_MIN_OVERLAP``; each span's source doc scores 1.0."""
    d = t(spark, sf, "documents")
    toks = tokenize_ws(F.lower(F.col("text")))
    # the trigram explode feeds three consumers (dfreq, train, and —
    # via dfreq — bench); checkpoint so it computes once
    sh = spread(d).select(
        "doc_id", F.explode(F.array_distinct(_word_trigrams(toks))).alias("sh")
    ).localCheckpoint(eager=False)
    dfreq = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    tot = d.agg(F.count(F.lit(1)).alias("n_docs"))
    # df <= cap  ⇔  NOT IN hot (df > cap): the hot set is bounded by
    # avg_doc_trigrams / ratio regardless of corpus size, so a
    # broadcast anti-join replaces shuffling every (doc, trigram)
    # occurrence against the full frequency table
    hot = (
        dfreq.crossJoin(F.broadcast(tot))
        .filter(F.col("df") > DECON_MAX_DF_RATIO * F.col("n_docs"))
        .select("sh")
    )
    train = sh.join(F.broadcast(hot), "sh", "left_anti").select(
        F.col("doc_id").alias("train_id"), "sh"
    )
    span = F.slice(toks, DECON_SPAN_START, DECON_SPAN_LEN)
    bench = (
        d.filter(F.col("doc_id") % DECON_BENCH_MOD == 0)
        .select(
            F.col("doc_id").alias("bench_id"),
            F.explode(F.array_distinct(_word_trigrams(span))).alias("sh"),
        )
        .join(F.broadcast(hot), "sh", "left_anti")
        .select("bench_id", "sh")
    )
    shared = (
        train.join(bench, "sh")
        .groupBy("train_id", "bench_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
    )
    bench_n = bench.groupBy("bench_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("bench_n")
    )
    return (
        shared.join(bench_n, "bench_id")
        .filter(F.col("n_shared") / F.col("bench_n") >= DECON_MIN_OVERLAP)
        .select(
            "train_id",
            "bench_id",
            "n_shared",
            fround(F.col("n_shared") / F.col("bench_n"), 6).alias("overlap"),
        )
    )


_DECON_SPAN_END = DECON_SPAN_START + DECON_SPAN_LEN - 1  # inclusive, 1-based

DECON_SQL = f"""
WITH d AS (SELECT doc_id, {_TOKS_LOW} AS toks FROM documents),
tri AS (SELECT doc_id,
        unnest(list_distinct(list_transform(range(1, len(toks) - 1),
               i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]))) AS sh
        FROM d),
tot AS (SELECT count(*) AS n_docs FROM documents),
dfreq AS (SELECT sh, count(*) AS df FROM tri GROUP BY sh),
tr AS (SELECT t.doc_id AS train_id, t.sh FROM tri t JOIN dfreq f ON t.sh = f.sh, tot
       WHERE f.df <= {DECON_MAX_DF_RATIO} * tot.n_docs),
bspan AS (SELECT doc_id AS bench_id,
                 toks[{DECON_SPAN_START}:{_DECON_SPAN_END}] AS toks
          FROM d WHERE doc_id % {DECON_BENCH_MOD} = 0),
btri AS (SELECT bench_id,
         unnest(list_distinct(list_transform(range(1, len(toks) - 1),
                i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]))) AS sh
         FROM bspan),
b AS (SELECT bt.bench_id, bt.sh FROM btri bt JOIN dfreq f ON bt.sh = f.sh, tot
      WHERE f.df <= {DECON_MAX_DF_RATIO} * tot.n_docs),
bn AS (SELECT bench_id, CAST(count(*) AS BIGINT) AS bench_n FROM b GROUP BY bench_id),
shared AS (SELECT train_id, bench_id, CAST(count(*) AS BIGINT) AS n_shared
           FROM tr JOIN b USING (sh) GROUP BY train_id, bench_id)
SELECT train_id, bench_id, n_shared,
       {_fr6("n_shared / bn.bench_n")} AS overlap
FROM shared JOIN bn USING (bench_id)
WHERE n_shared / bn.bench_n >= {DECON_MIN_OVERLAP}
"""


# ---------------------------------------------------------------------------
# Deterministic weighted corpus mixing
# ---------------------------------------------------------------------------

#: per-language sampling rates (a curriculum-mix shape: upsample the
#: primary language, downsample the rest)
MIX_RATES: dict[str, float] = {"en": 0.5, "zh": 0.3, "es": 0.3, "de": 0.1, "fr": 0.1}
_MIX_DEFAULT = 0.05


def pipeline_weighted_mix(spark: SparkSession, sf: str) -> DataFrame:
    """Weighted dataset mixing: keep each doc iff a uniform hash of
    its id falls under its language's rate. Stateless hash filter —
    zero shuffles, trivially reproducible (the same doc set survives
    on every run and every engine), the standard way to mix corpus
    shards at 100 TB without materializing a random column."""
    d = t(spark, sf, "documents")
    u = hash_fraction("md5(CAST(doc_id AS STRING))")
    rate = F.lit(_MIX_DEFAULT)
    for lang, r in MIX_RATES.items():
        rate = F.when(F.col("lang") == lang, F.lit(r)).otherwise(rate)
    return (
        d.withColumn("u", u)
        .filter(F.col("u") < rate)
        .select("doc_id", "lang", "source", fround("u", 6).alias("u"))
    )


def _mix_sql() -> str:
    u = sql_hash_fraction("md5(CAST(doc_id AS VARCHAR))")
    cases = " ".join(f"WHEN lang = '{k}' THEN {v}" for k, v in MIX_RATES.items())
    return f"""
SELECT doc_id, lang, source, {_fr6(u)} AS u
FROM documents
WHERE ({u}) < (CASE {cases} ELSE {_MIX_DEFAULT} END)
"""


MIX_SQL = _mix_sql()


# ---------------------------------------------------------------------------
# Deterministic stratified sampling + corpus length histogram
# ---------------------------------------------------------------------------

#: docs kept per language stratum
STRATA_K = 50


def pipeline_stratified_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic stratified sample: the ``STRATA_K`` docs per
    language with the smallest md5(doc_id) — uniform-without-
    replacement per stratum, reproducible on any engine and any
    partitioning (the standard way to draw balanced eval subsets
    from a 100 TB corpus without a random() that can't be replayed).
    One shuffle on lang; WindowGroupLimit keeps per-key state at K."""
    from pyspark.sql import Window

    d = t(spark, sf, "documents")
    h = F.md5(F.col("doc_id").cast("string"))
    w = Window.partitionBy("lang").orderBy(h.asc())
    return (
        d.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= STRATA_K)
        .select("lang", "rank", "doc_id")
    )


STRATIFIED_SQL = f"""
SELECT lang,
       CAST(row_number() OVER (PARTITION BY lang
            ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC) AS INT) AS rank,
       doc_id
FROM documents
QUALIFY rank <= {STRATA_K}
"""


def text_length_histogram(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus length distribution: doc counts per (lang, power-of-2
    token-count bin). The bin is the INTEGER log2 — length of the
    base-2 digit string, pure integer/string ops on both engines (a
    float log2 would hang cross-engine parity on libm rounding).
    One partial-agg shuffle."""
    d = t(spark, sf, "documents")
    n = F.size(tokenize_ws(F.lower(F.col("text"))))
    bin_ = F.when(n > 0, F.length(F.conv(n.cast("string"), 10, 2))).otherwise(0)
    return (
        d.select("lang", bin_.cast("int").alias("log2_bin"))
        .groupBy("lang", "log2_bin")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )


LENGTH_HIST_SQL = f"""
SELECT lang,
       CAST(CASE WHEN len({_TOKS_LOW}) > 0
                 THEN length(bin(len({_TOKS_LOW}))) ELSE 0 END AS INT) AS log2_bin,
       CAST(count(*) AS BIGINT) AS n_docs
FROM documents
GROUP BY lang, log2_bin
"""


# ---------------------------------------------------------------------------
# Event-series shapes: funnel, retention, gap fill
# ---------------------------------------------------------------------------


def events_funnel(spark: SparkSession, sf: str) -> DataFrame:
    """Ordered 3-stage funnel (signup -> click -> purchase): users
    whose first click strictly follows their first signup, and first
    purchase strictly follows that click. Staged min-aggregations —
    each stage shuffles once on user_id and shrinks the relation, so
    the later joins broadcast."""
    e = t(spark, sf, "events")
    s = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_s"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(s, "user_id")
        .filter(F.col("ts") > F.col("t_s"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_c"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t_c"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_p"))
    )
    return (
        s.agg(F.count(F.lit(1)).cast("bigint").alias("n_signup"))
        .crossJoin(c.agg(F.count(F.lit(1)).cast("bigint").alias("n_click_after_signup")))
        .crossJoin(
            p.agg(F.count(F.lit(1)).cast("bigint").alias("n_purchase_after_click"))
        )
    )


FUNNEL_SQL = """
WITH s AS (SELECT user_id, min(ts) AS t_s FROM events
           WHERE event_type = 'signup' GROUP BY user_id),
c AS (SELECT e.user_id, min(e.ts) AS t_c FROM events e JOIN s USING (user_id)
      WHERE e.event_type = 'click' AND e.ts > s.t_s GROUP BY e.user_id),
p AS (SELECT e.user_id, min(e.ts) AS t_p FROM events e JOIN c USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > c.t_c GROUP BY e.user_id)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM s) AS n_signup,
       (SELECT CAST(count(*) AS BIGINT) FROM c) AS n_click_after_signup,
       (SELECT CAST(count(*) AS BIGINT) FROM p) AS n_purchase_after_click
"""


def events_retention(spark: SparkSession, sf: str) -> DataFrame:
    """Weekly cohort retention: users grouped by the week of their
    first event; n_users = distinct users from that cohort active
    week_offset weeks later. One shuffle on user_id for the cohort
    assignment, then a partial-agg rollup."""
    e = t(spark, sf, "events")
    cohort = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cw")
    )
    act = e.select("user_id", F.date_trunc("week", F.col("ts")).alias("aw")).distinct()
    return (
        act.join(cohort, "user_id")
        .select(
            "user_id",
            F.date_format("cw", "yyyy-MM-dd").alias("cohort_week"),
            (F.datediff(F.col("aw"), F.col("cw")) / 7).cast("int").alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count_distinct("user_id").cast("bigint").alias("n_users"))
    )


RETENTION_SQL = """
WITH f AS (SELECT user_id, date_trunc('week', min(ts)) AS cw
           FROM events GROUP BY user_id),
a AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS aw FROM events)
SELECT strftime(f.cw, '%Y-%m-%d') AS cohort_week,
       CAST(date_diff('day', f.cw, a.aw) / 7 AS INT) AS week_offset,
       CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_users
FROM a JOIN f USING (user_id)
GROUP BY cohort_week, week_offset
"""


def events_gap_fill(spark: SparkSession, sf: str) -> DataFrame:
    """Time-series gap fill: hourly event counts per type with every
    missing (hour, type) cell filled with 0 across the observed
    range. The hour grid is sequence()-generated executor-side from
    a 1-row bounds aggregate (never a driver loop); the grid x type
    cross join is tiny and broadcast."""
    e = t(spark, sf, "events")
    counts = e.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("h"), "event_type"
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    bounds = e.agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    hours = bounds.select(
        F.explode(F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))).alias("h")
    )
    types = e.select("event_type").distinct()
    return (
        hours.crossJoin(types)
        .join(counts, ["h", "event_type"], "left")
        .select(
            F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            F.coalesce("n", F.lit(0).cast("bigint")).alias("n_events"),
        )
    )


GAP_FILL_SQL = """
WITH b AS (SELECT date_trunc('hour', min(ts)) AS h0, date_trunc('hour', max(ts)) AS h1
           FROM events),
hours AS (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h FROM b),
ty AS (SELECT DISTINCT event_type FROM events),
c AS (SELECT date_trunc('hour', ts) AS h, event_type, CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2)
SELECT strftime(hours.h, '%Y-%m-%d %H:%M:%S') AS window_start, ty.event_type,
       COALESCE(c.n, 0) AS n_events
FROM hours CROSS JOIN ty
LEFT JOIN c ON c.h = hours.h AND c.event_type = ty.event_type
"""


def dedup_decontaminate_bloom(spark: SparkSession, sf: str) -> DataFrame:
    """Exact-match decontamination at the scale where the contaminated
    set outgrows a broadcast: Bloom-prefiltered anti join
    (operators/bloom.py — fixed 512 KiB bitmap built by bounded
    aggregation, JVM-side hashing, exact residual). Bloom has no
    false negatives, so the result is bit-identical to the plain anti
    join, which is exactly what the oracle computes."""
    from queryengine_spark.operators.bloom import bloom_join

    d = t(spark, sf, "documents")
    bad = (
        d.filter(F.col("doc_id") % 17 == 0)
        .select(F.md5("text").alias("bad_hash"))
        .distinct()
    )
    probe = d.withColumn("h", F.md5("text"))
    return bloom_join(probe, bad, "h", "bad_hash", how="left_anti").select(
        "doc_id", "lang", "source", "n_chars"
    )


DECON_BLOOM_SQL = """
SELECT doc_id, lang, source, n_chars
FROM documents
WHERE md5(text) NOT IN
      (SELECT md5(text) FROM documents WHERE doc_id % 17 = 0)
"""


#: PII scrub patterns — chosen to parse identically under Java regex
#: (Spark) and RE2 (DuckDB): character classes, bounded repetition,
#: \b word boundaries only
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE = r"\+1-\d{3}-\d{3}-\d{4}"  # NANP-shaped, Java/RE2-portable


def text_pii_scrub(spark: SparkSession, sf: str) -> DataFrame:
    """PII scrubbing — the redaction pass every training corpus runs
    before the tokenizer: detect + replace emails and IPv4 addresses.
    The synthetic corpus has no organic PII, so a deterministic
    planting step (every 7th doc gains an email, every 11th an IP —
    both derived from doc_id) makes the scrub measurable; the oracle
    plants and scrubs identically. Pure regexp projection — zero
    shuffles, trivially row-parallel at any scale."""
    d = t(spark, sf, "documents")
    planted = d.withColumn(
        "t2",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 11 == 0,
                F.concat(
                    F.lit(" from 10.0."),
                    (F.col("doc_id") % 256).cast("string"),
                    F.lit(".1"),
                ),
            ).otherwise(F.lit("")),
        ),
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(F.col("t2"), PII_EMAIL, "<EMAIL>"), PII_IPV4, "<IP>"
    )
    return planted.select(
        "doc_id",
        F.regexp_count(F.col("t2"), F.lit(PII_EMAIL)).cast("int").alias("n_emails"),
        F.regexp_count(F.col("t2"), F.lit(PII_IPV4)).cast("int").alias("n_ips"),
        F.length(scrubbed).cast("bigint").alias("scrubbed_len"),
        F.md5(scrubbed).alias("scrubbed_hash"),
    )


PII_SCRUB_SQL = f"""
WITH planted AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 7 = 0
                 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
                 ELSE '' END
         || CASE WHEN doc_id % 11 = 0
                 THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.1'
                 ELSE '' END AS t2
  FROM documents
),
scrubbed AS (
  SELECT doc_id, t2,
         regexp_replace(regexp_replace(t2, '{PII_EMAIL}', '<EMAIL>', 'g'),
                        '{PII_IPV4}', '<IP>', 'g') AS s
  FROM planted
)
SELECT doc_id,
       CAST(len(regexp_extract_all(t2, '{PII_EMAIL}')) AS INT) AS n_emails,
       CAST(len(regexp_extract_all(t2, '{PII_IPV4}')) AS INT) AS n_ips,
       CAST(length(s) AS BIGINT) AS scrubbed_len,
       md5(s) AS scrubbed_hash
FROM scrubbed
"""


def text_pii_pseudonymize(spark: SparkSession, sf: str) -> DataFrame:
    """PII PSEUDONYMIZATION (r6) — the sibling of the scrub pass for
    pipelines that must keep referential integrity: each detected
    email/IPv4 is replaced by a STABLE token derived from the match's
    own md5 (``<EMAIL_xxxxxxxx>``), so the same address maps to the
    same token corpus-wide and joins/dedup/frequency analyses survive
    redaction. Implemented as a pure-Column fold: distinct matches →
    ``aggregate(matches, text, (acc, m) -> replace(acc, m, token))``
    — zero UDF, zero shuffle, row-parallel at any scale. Planting
    scheme extends the scrub query's: every 7th doc gains an email,
    every 21st the SHARED address (so cross-document token stability
    is itself under the oracle hash), every 11th an IPv4. Caveat
    (documented): literal-fold replacement assumes no match is a
    substring of another — true for these patterns' plants; a corpus
    with overlapping matches would sort matches longest-first."""
    d = t(spark, sf, "documents")
    planted = d.withColumn(
        "t2",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 21 == 0, F.lit(" mail shared@example.com")
            )
            .when(
                F.col("doc_id") % 7 == 0,
                F.concat(
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com"),
                ),
            )
            .otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 11 == 0,
                F.concat(
                    F.lit(" from 10.0."),
                    (F.col("doc_id") % 256).cast("string"),
                    F.lit(".1"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 13 == 0,
                F.concat(
                    F.lit(" call +1-555-"),
                    (F.col("doc_id") % 900 + 100).cast("string"),
                    F.lit("-0199"),
                ),
            ).otherwise(F.lit("")),
        ),
    )

    def tok(prefix: str):
        return lambda acc, m: F.replace(
            acc,
            m,
            F.concat(
                F.lit(f"<{prefix}_"), F.substring(F.md5(m), 1, 8), F.lit(">")
            ),
        )

    emails = F.array_distinct(
        F.regexp_extract_all(F.col("t2"), F.lit(PII_EMAIL), F.lit(0))
    )
    step1 = F.aggregate(emails, F.col("t2"), tok("EMAIL"))
    ips = F.array_distinct(
        F.regexp_extract_all(step1, F.lit(PII_IPV4), F.lit(0))
    )
    step2 = F.aggregate(ips, step1, tok("IP"))
    phones = F.array_distinct(
        F.regexp_extract_all(step2, F.lit(PII_PHONE), F.lit(0))
    )
    pseudo = F.aggregate(phones, step2, tok("PHONE"))
    return planted.select(
        "doc_id",
        F.size(emails).cast("int").alias("n_emails"),
        F.size(phones).cast("int").alias("n_phones"),
        F.try_element_at(
            F.transform(
                emails,
                lambda m: F.concat(
                    F.lit("<EMAIL_"), F.substring(F.md5(m), 1, 8), F.lit(">")
                ),
            ),
            F.lit(1),
        ).alias("email_token"),
        F.length(pseudo).cast("bigint").alias("pseudo_len"),
        F.md5(pseudo).alias("pseudo_hash"),
    )


PII_PSEUDONYMIZE_SQL = f"""
WITH planted AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 21 = 0 THEN ' mail shared@example.com'
                 WHEN doc_id % 7 = 0
                 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
                 ELSE '' END
         || CASE WHEN doc_id % 11 = 0
                 THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.1'
                 ELSE '' END
         || CASE WHEN doc_id % 13 = 0
                 THEN ' call +1-555-' || CAST(doc_id % 900 + 100 AS VARCHAR) || '-0199'
                 ELSE '' END AS t2
  FROM documents
),
em AS (
  SELECT doc_id, t2,
         list_distinct(regexp_extract_all(t2, '{PII_EMAIL}')) AS emails
  FROM planted
),
s1 AS (
  SELECT doc_id, t2, emails,
         list_reduce(list_prepend(t2, emails),
                     (acc, m) -> replace(acc, m,
                         '<EMAIL_' || substr(md5(m), 1, 8) || '>')) AS p1
  FROM em
),
s2 AS (
  SELECT doc_id, emails,
         list_reduce(
             list_prepend(p1, list_distinct(regexp_extract_all(p1, '{PII_IPV4}'))),
             (acc, m) -> replace(acc, m,
                 '<IP_' || substr(md5(m), 1, 8) || '>')) AS p2
  FROM s1
),
s3 AS (
  SELECT doc_id, emails,
         list_distinct(regexp_extract_all(p2, '{PII_PHONE}')) AS phones,
         list_reduce(
             list_prepend(p2, list_distinct(regexp_extract_all(p2, '{PII_PHONE}'))),
             (acc, m) -> replace(acc, m,
                 '<PHONE_' || substr(md5(m), 1, 8) || '>')) AS p2
  FROM s2
)
SELECT doc_id,
       CAST(len(emails) AS INT) AS n_emails,
       CAST(len(phones) AS INT) AS n_phones,
       CASE WHEN len(emails) >= 1
            THEN '<EMAIL_' || substr(md5(emails[1]), 1, 8) || '>' END AS email_token,
       CAST(length(p2) AS BIGINT) AS pseudo_len,
       md5(p2) AS pseudo_hash
FROM s3
"""


# ---------------------------------------------------------------------------
# Token-budget sampling
# ---------------------------------------------------------------------------

#: per-source token budget for the sampling query. ~700 tokens/source
#: exist at sf0.01, so 400 truncates every source mid-stream — the
#: budget logic is exercised (and driver-certified), not vacuous.
TOKEN_BUDGET = 400


def pipeline_token_budget_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic token-budget sampling: per source, walk docs in
    md5(doc_id) pseudo-random order and keep them while the running
    token total stays within TOKEN_BUDGET. This is how training mixes
    are actually drawn — 'take N tokens per source', reproducibly.

    One window pass per source partition (cumulative sum over a
    unique total order), zero joins, zero UDFs; at 100 TB the
    partition key is the source and the order key is a hash — no
    skew beyond source sizes, which ARE the workload."""
    d = t(spark, sf, "documents")
    from pyspark.sql import Window

    w = (
        Window.partitionBy("source")
        .orderBy(F.md5(F.col("doc_id").cast("string")), F.col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        d.select(
            "doc_id",
            "source",
            F.size(tokenize_ws(F.col("text"))).cast("bigint").alias("n_tokens"),
        )
        .withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .filter(F.col("cum_tokens") <= TOKEN_BUDGET)
        .select("doc_id", "source", "n_tokens", "cum_tokens")
    )


TOKEN_BUDGET_SQL = f"""
WITH toks AS (
  SELECT doc_id, source,
         CAST(len({_TOKS.format(c='text')}) AS BIGINT) AS n_tokens
  FROM documents
),
cum AS (
  SELECT doc_id, source, n_tokens,
         CAST(SUM(n_tokens) OVER (
           PARTITION BY source
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS cum_tokens
  FROM toks
)
SELECT doc_id, source, n_tokens, cum_tokens
FROM cum WHERE cum_tokens <= {TOKEN_BUDGET}
"""


# ---------------------------------------------------------------------------
# End-to-end LLM data-prep composition
# ---------------------------------------------------------------------------

#: quality gate for the composed pipeline (portable int comparisons)
PREP_MIN_TOKENS = 30
PREP_MAX_CHARS = 500


def pipeline_llm_prep(spark: SparkSession, sf: str) -> DataFrame:
    """The composed LLM data-prep shape END TO END in one declarative
    plan: quality gate (token/char bounds) → MinHash-LSH near-dup
    clustering over the survivors (star edges + contraction CC) →
    keep one canonical doc per cluster → per-(lang, source) corpus
    stats. Differs from pipeline_clean_corpus (exact fingerprint
    dedup) by using the NEAR-dup cluster machinery — the expensive
    real-world variant.

    Scale shape: the quality gate is map-side and shrinks everything
    downstream; clustering runs id-only (star edges Σg, CC by local
    union-find contraction, which at this size leaves no star
    round); text/metadata rejoin only for survivors;
    the final agg is a narrow (lang, source) rollup."""
    from queryengine_spark.operators.dedup import (  # noqa: PLC0415
        connected_components,
        minhash_lsh_star_edges,
    )
    from queryengine_spark.queries.dedup import BAND_SIZE, N_HASHES  # noqa: PLC0415

    d = t(spark, sf, "documents")
    quality = d.select(
        "doc_id", "lang", "source", "n_chars", "text",
        F.size(tokenize_ws(F.col("text"))).cast("bigint").alias("n_tokens"),
    ).filter(
        (F.col("n_tokens") >= PREP_MIN_TOKENS) & (F.col("n_chars") <= PREP_MAX_CHARS)
    )
    edges = minhash_lsh_star_edges(
        quality, "doc_id", "text", n_hashes=N_HASHES, band_size=BAND_SIZE, shingle_n=3
    )
    labels = connected_components(
        quality.select(F.col("doc_id").alias("id")), edges, max_iterations=30
    )
    keep = labels.filter(F.col("id") == F.col("component")).select("id")
    survivors = quality.join(keep, quality.doc_id == keep.id, "left_semi")
    return survivors.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
    )


def _llm_prep_sql() -> str:
    from queryengine_spark.queries.dedup import _minhash_sql  # noqa: PLC0415

    minhash = _minhash_sql()  # uncapped cliques: same components as stars
    assert minhash.startswith("\nWITH ")
    body = minhash[len("\nWITH ") :]
    ctes, final_select = body.rsplit("SELECT DISTINCT", 1)
    # re-point the shingle CTE at the quality-gated corpus
    ctes = ctes.replace(
        "d AS (SELECT doc_id AS id, lower(text) AS tl FROM documents)",
        "d AS (SELECT doc_id AS id, lower(text) AS tl FROM qdocs)",
    )
    assert "FROM qdocs)" in ctes
    return f"""
WITH RECURSIVE qdocs AS (
  SELECT doc_id, lang, source, n_chars, text,
         CAST(len({_TOKS.format(c='text')}) AS BIGINT) AS n_tokens
  FROM documents
  WHERE CAST(len({_TOKS.format(c='text')}) AS BIGINT) >= {PREP_MIN_TOKENS}
    AND n_chars <= {PREP_MAX_CHARS}
),
{ctes.rstrip()},
pairs AS (SELECT DISTINCT {final_select.rstrip()}),
verts AS (SELECT doc_id AS vid FROM qdocs),
edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
walk(wid, label) AS (
  SELECT vid, vid FROM verts
  UNION
  SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.wid
),
labels AS (SELECT wid AS did, MIN(label) AS component FROM walk GROUP BY wid)
SELECT q.lang, q.source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(q.n_tokens) AS BIGINT) AS n_tokens
FROM qdocs q JOIN labels l ON q.doc_id = l.did
WHERE l.did = l.component
GROUP BY q.lang, q.source
"""


LLM_PREP_SQL = _llm_prep_sql()


# --------------------------------------------------------------- r8 folds

from queryengine_spark.queries.base import fold_legs, fold_sql  # noqa: E402

_DECON_SUITE_COLS = [
    ("train_id", "bigint"),
    ("bench_id", "bigint"),
    ("n_shared", "bigint"),
    ("overlap", "double"),
    ("doc_id", "bigint"),
    ("lang", "string"),
    ("source", "string"),
    ("n_chars", "bigint"),
]
_FUNNEL_RETENTION_COLS = [
    ("n_signup", "bigint"),
    ("n_click_after_signup", "bigint"),
    ("n_purchase_after_click", "bigint"),
    ("cohort_week", "string"),
    ("week_offset", "int"),
    ("n_users", "bigint"),
]


def dedup_decontaminate_suite(spark: SparkSession, sf: str) -> DataFrame:
    """Decontamination fold (r8): leg 'overlap' = the train-vs-bench
    shingle-overlap report; leg 'bloom' = the Bloom-prefiltered clean
    corpus. Pre-fold semantics of dedup_decontaminate /
    dedup_decontaminate_bloom, unchanged."""
    return fold_legs(
        [
            ("overlap", dedup_decontaminate(spark, sf)),
            ("bloom", dedup_decontaminate_bloom(spark, sf)),
        ],
        _DECON_SUITE_COLS,
    )


def events_funnel_retention(spark: SparkSession, sf: str) -> DataFrame:
    """Events-analytics fold (r8, verdict item 4): leg 'funnel' =
    the ordered signup→click→purchase funnel counts; leg 'retention'
    = weekly cohort retention. Pre-fold semantics of events_funnel /
    events_retention, unchanged."""
    return fold_legs(
        [
            ("funnel", events_funnel(spark, sf)),
            ("retention", events_retention(spark, sf)),
        ],
        _FUNNEL_RETENTION_COLS,
    )


DECON_SUITE_SQL = fold_sql(
    [
        ("overlap", DECON_SQL, {"train_id", "bench_id", "n_shared", "overlap"}),
        ("bloom", DECON_BLOOM_SQL, {"doc_id", "lang", "source", "n_chars"}),
    ],
    _DECON_SUITE_COLS,
)
FUNNEL_RETENTION_SQL = fold_sql(
    [
        ("funnel", FUNNEL_SQL,
         {"n_signup", "n_click_after_signup", "n_purchase_after_click"}),
        ("retention", RETENTION_SQL, {"cohort_week", "week_offset", "n_users"}),
    ],
    _FUNNEL_RETENTION_COLS,
)


QUERIES = {
    "text_gopher_quality": (text_gopher_quality, GOPHER_SQL),
    "text_pii_scrub": (text_pii_scrub, PII_SCRUB_SQL),
    "text_pii_pseudonymize": (text_pii_pseudonymize, PII_PSEUDONYMIZE_SQL),
    "text_repetition_stats": (text_repetition_stats, REPETITION_SQL),
    "dedup_decontaminate_suite": (dedup_decontaminate_suite, DECON_SUITE_SQL),
    "pipeline_weighted_mix": (pipeline_weighted_mix, MIX_SQL),
    "pipeline_stratified_sample": (pipeline_stratified_sample, STRATIFIED_SQL),
    "text_length_histogram": (text_length_histogram, LENGTH_HIST_SQL),
    "events_funnel_retention": (events_funnel_retention, FUNNEL_RETENTION_SQL),
    "events_gap_fill": (events_gap_fill, GAP_FILL_SQL),
    "pipeline_token_budget_sample": (pipeline_token_budget_sample, TOKEN_BUDGET_SQL),
    "pipeline_llm_prep": (pipeline_llm_prep, LLM_PREP_SQL),
}


# ---------------------------------------------------------------------------
# Sequence packing — concat-and-chunk into fixed-length training rows (r7)
# ---------------------------------------------------------------------------

#: training sequence length (tokens)
PACK_SEQ_LEN = 256


def pipeline_pack_sequences(spark: SparkSession, sf: str) -> DataFrame:
    """GLOBAL-order sequence-packing layout (r7) — the per-DOCUMENT
    twin of ``pipeline_sequence_packing`` (queries/curation2.py):
    that query shards the stream by (source, md5-shard) and emits
    per-PACK telemetry (fill, boundary fragmentation) using ordinary
    per-partition windows; THIS one lays the corpus out as ONE
    deterministic global token stream (ascending doc_id) and emits
    each document's dataloader index entry — stream offset,
    first/last sequence, straddle count, in-sequence start offset —
    which requires a GLOBAL prefix sum no partitioned window can
    provide. That sum is computed scale-out with the
    range-repartition + broadcast-partition-offsets pattern
    (operators/packing.py — NEVER a single-partition global window,
    plan-gated); the oracle replicates it with a plain SQL window, so
    the driver hash certifies the two-phase prefix sum against the
    one-pass definition."""
    from queryengine_spark.operators.packing import pack_sequences

    d = t(spark, sf, "documents")
    return pack_sequences(d, "doc_id", "text", PACK_SEQ_LEN).select(
        F.col("id").alias("doc_id"),
        "n_tokens", "start_tok", "first_seq", "last_seq",
        "n_seqs", "offset_in_seq",
    )


PACK_SEQUENCES_SQL = f"""
WITH toks AS (
  SELECT doc_id, CAST(len({_TOKS.format(c="text")}) AS BIGINT) AS n_tokens
  FROM documents
),
nz AS (SELECT doc_id, n_tokens FROM toks WHERE n_tokens > 0),
pre AS (
  SELECT doc_id, n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (
           ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS BIGINT) AS start_tok
  FROM nz
)
SELECT doc_id, n_tokens, start_tok,
       start_tok // {PACK_SEQ_LEN} AS first_seq,
       (start_tok + n_tokens - 1) // {PACK_SEQ_LEN} AS last_seq,
       (start_tok + n_tokens - 1) // {PACK_SEQ_LEN}
         - start_tok // {PACK_SEQ_LEN} + 1 AS n_seqs,
       start_tok % {PACK_SEQ_LEN} AS offset_in_seq
FROM pre
"""

QUERIES["pipeline_pack_sequences"] = (
    pipeline_pack_sequences,
    PACK_SEQUENCES_SQL,
)
