"""Dedup driver-contract queries over the ``documents`` /
``embeddings`` tables, with DuckDB-parity oracles.

All hashes are md5-hex (identical in Spark and DuckDB), min-hash
comparisons are lexicographic on the hex string, and ratios are
int/int double divisions — so value-hashes match bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from queryengine_spark.operators.dedup import (
    connected_components,
    connected_components_star,
    embedding_neardup_pairs_lsh,
    exact_duplicate_groups,
    minhash_candidate_jaccard,
    minhash_lsh_candidate_pairs,
    minhash_lsh_star_edges,
    ngram_jaccard_pairs,
    simhash_hamming_pairs,
    simhash_relation,
)
from queryengine_spark.queries.base import t

JACCARD_THRESHOLD = 0.6
#: 0.35 is ~3σ above the null cosine of random 64-dim vectors — low
#: enough that the synthetic corpus yields a non-empty result (a 0-row
#: hash match proves nothing), high enough to stay a "near-dup" test.
COSINE_THRESHOLD = 0.35
#: PRODUCTION operating point (round-3 verdict item 6): 7 bits × 4
#: tables — measured 0.96 recall of planted cos≈0.97 near-dups at
#: 3.2 % candidate volume (tests/test_embedding_prod_threshold.py).
#: At the weak 0.35 contract threshold the per-bit sign-test
#: agreement is only 1-θ/π ≈ 0.61, so this selective bucketing keeps
#: proportionally fewer weak pairs — the oracle mirrors the identical
#: bucketing, so the recall trade-off is cross-engine-checked, and
#: the recall evidence at the production threshold lives in the
#: planted-pair test. The round-2/3 contract config (3 × 8, near
#: all-pairs at 0.35) stays reachable for reproducing old driver rows:
EMB_N_BITS = 7
EMB_N_TABLES = 4
CONTRACT_EMB_N_BITS = 3
CONTRACT_EMB_N_TABLES = 8
EMB_DIM = 64
N_HASHES = 8
#: 2 bands × 4 hashes: requiring 4 matching min-hashes per band keeps
#: candidate volume sane on highly self-similar corpora (band size 2
#: emitted 8.2M candidate pairs on the synthetic sf0.1 documents).
BAND_SIZE = 4
#: pair-emitting LSH drops band buckets larger than this before the
#: g(g-1)/2 expansion: the sf0.1 corpus has a 475-doc hot bucket
#: (520k clique pairs uncapped, 10×-probe quadratic); capped, output
#: follows Σ min(g,32)² — linear in corpus growth. 32 also bites at
#: the driver's sf0.01 (max bucket 62), so the cap logic itself is
#: hash-certified cross-engine. Buckets above the cap are template
#: clusters — the component queries (star edges, Σg) still cover
#: them for clustering purposes.
MINHASH_MAX_BUCKET = 32


def dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
    return exact_duplicate_groups(t(spark, sf, "documents"), "doc_id", "text")


DEDUP_EXACT_SQL = """
SELECT md5(text) AS text_hash, COUNT(*) AS n_docs, MIN(doc_id) AS keep_id
FROM documents GROUP BY md5(text)
"""

_SHINGLE_CTE = """
WITH d AS (SELECT doc_id AS id, lower(text) AS tl FROM documents),
di AS (SELECT id, tl, unnest(range(1, length(tl) - 1)) AS i FROM d),
sh AS (SELECT DISTINCT id, substr(tl, CAST(i AS INT), 3) AS sh FROM di)
"""


#: hot-shingle guard: shingles present in > 10% of documents are
#: dropped before the inverted self-join. The synthetic corpus has
#: only 377 distinct 3-grams, 212 of them hot — unguarded, the join
#: is Σ df² ≈ 2.2e9 rows at sf0.1; guarded it is ≈ 4.3e6 (500×).
#: The oracle mirrors the identical drop, so hashes still match.
JACCARD_MAX_DF_RATIO = 0.1


def dedup_ngram_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    from queryengine_spark.functions.numeric import fround

    return ngram_jaccard_pairs(
        t(spark, sf, "documents"), "doc_id", "text",
        n=3, threshold=JACCARD_THRESHOLD, max_df_ratio=JACCARD_MAX_DF_RATIO,
    ).select("id_a", "id_b", fround("jaccard", 6).alias("jaccard"))


DEDUP_JACCARD_SQL = _SHINGLE_CTE.replace(
    "sh AS (", "sh0 AS ("
) + f""",
dfreq AS (SELECT sh, count(*) AS df FROM sh0 GROUP BY sh),
sh AS (SELECT id, s.sh FROM sh0 s JOIN dfreq f ON s.sh = f.sh
       WHERE f.df <= {JACCARD_MAX_DF_RATIO} * (SELECT count(*) FROM documents)),
cnt AS (SELECT id, CAST(count(*) AS BIGINT) AS n_sh FROM sh GROUP BY id),
shared AS (SELECT a.id AS id_a, b.id AS id_b, CAST(count(*) AS BIGINT) AS shared
           FROM sh a JOIN sh b ON a.sh = b.sh AND a.id < b.id
           GROUP BY a.id, b.id)
SELECT id_a, id_b,
       floor(shared / (ca.n_sh + cb.n_sh - shared) * 1000000.0 + 0.5) / 1000000.0 AS jaccard
FROM shared
JOIN cnt ca ON id_a = ca.id
JOIN cnt cb ON id_b = cb.id
WHERE shared / (ca.n_sh + cb.n_sh - shared) >= {JACCARD_THRESHOLD}
"""


def dedup_minhash_lsh(spark: SparkSession, sf: str) -> DataFrame:
    return minhash_lsh_candidate_pairs(
        t(spark, sf, "documents"), "doc_id", "text",
        n_hashes=N_HASHES, band_size=BAND_SIZE, shingle_n=3,
        max_bucket=MINHASH_MAX_BUCKET,
    )


def sql_minhash_mins(n_hashes: int) -> str:
    """Mirror of operators/dedup.py::minhash_signatures: h_i = 32-bit
    hex slice i%4 of md5('<i//4>:' || shingle) — 4 hash functions per
    digest. Shared by every MinHash oracle (pairs, jaccard-estimate,
    incremental) so a hash-layout change lands everywhere at once."""
    return ",\n   ".join(
        f"min(substr(md5('{i // 4}:' || sh), {(i % 4) * 8 + 1}, 8)) AS h{i}"
        for i in range(n_hashes)
    )


def sql_minhash_bands(n_hashes: int, band_size: int) -> str:
    """Mirror of operators/dedup.py::_band_bucket_array — per-band
    md5('<band>|h..|h..') bucket ids over an h0..h{k-1} signature."""
    n_bands = n_hashes // band_size
    return "\n  UNION ALL ".join(
        "SELECT id, md5('{b}' || '|' || {cols}) AS bucket FROM sig".format(
            b=b,
            cols=" || '|' || ".join(
                f"h{b * band_size + j}" for j in range(band_size)
            ),
        )
        for b in range(n_bands)
    )


def _minhash_sql(max_bucket: int | None = None) -> str:
    mins = sql_minhash_mins(N_HASHES)
    bands = sql_minhash_bands(N_HASHES, BAND_SIZE)
    if max_bucket is not None:
        # mirror of the operator's bucket-size cap
        cap = f""",
bkg AS (SELECT bucket, count(*) AS g FROM bk0 GROUP BY bucket),
bk AS (SELECT id, b.bucket FROM bk0 b JOIN bkg c ON b.bucket = c.bucket
       WHERE c.g <= {max_bucket})"""
        bk_name = "bk0"
    else:
        cap = ""
        bk_name = "bk"
    return (
        _SHINGLE_CTE
        + f""",
sig AS (SELECT id,
   {mins}
   FROM sh GROUP BY id),
{bk_name} AS (
  {bands}
){cap}
SELECT DISTINCT a.id AS id_a, b.id AS id_b
FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.id < b.id
"""
    )


DEDUP_MINHASH_SQL = _minhash_sql(MINHASH_MAX_BUCKET)


#: estimation hashes are DISJOINT from the banding hashes (h8..h15 vs
#: h0..h7): estimating from the hashes that selected the pair is
#: conditioned on its own selection (+0.20 measured bias, hard floor
#: of band_size/n_hashes); independent hashes are unbiased given the
#: selection (measured +0.005)
N_EST_HASHES = 8


def dedup_minhash_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    """Capped LSH candidate pairs scored by the (#agreeing
    min-hashes)/k Jaccard estimator over estimation-reserved hash
    functions — pair scoring that touches only the sketch, never the
    text (see the operator docstring)."""
    return minhash_candidate_jaccard(
        t(spark, sf, "documents"), "doc_id", "text",
        n_hashes=N_HASHES, band_size=BAND_SIZE, shingle_n=3,
        max_bucket=MINHASH_MAX_BUCKET, n_est_hashes=N_EST_HASHES,
    )


def _minhash_jaccard_sql() -> str:
    # mirror of minhash_candidate_jaccard: a 16-hash signature whose
    # first 8 band exactly like DEDUP_MINHASH_SQL (same hash slices)
    # and whose last 8 score the pairs
    total = N_HASHES + N_EST_HASHES
    mins = sql_minhash_mins(total)
    bands = sql_minhash_bands(N_HASHES, BAND_SIZE)
    agree = " + ".join(
        f"(CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END)"
        for i in range(N_HASHES, total)
    )
    return (
        _SHINGLE_CTE
        + f""",
sig AS (SELECT id,
   {mins}
   FROM sh GROUP BY id),
bk0 AS (
  {bands}
),
bkg AS (SELECT bucket, count(*) AS g FROM bk0 GROUP BY bucket),
bk AS (SELECT id, b.bucket FROM bk0 b JOIN bkg c ON b.bucket = c.bucket
       WHERE c.g <= {MINHASH_MAX_BUCKET}),
pairs AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
          FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.id < b.id)
SELECT p.id_a, p.id_b, ({agree}) / {float(N_EST_HASHES)} AS est_jaccard
FROM pairs p JOIN sig sa ON p.id_a = sa.id JOIN sig sb ON p.id_b = sb.id
"""
    )


DEDUP_MINHASH_JACCARD_SQL = _minhash_jaccard_sql()


def dedup_simhash(spark: SparkSession, sf: str) -> DataFrame:
    d = t(spark, sf, "documents")
    return simhash_relation(d, "doc_id", "text", bits=16).select(
        F.col("id").alias("doc_id"), "simhash"
    )


def _simhash_sql() -> str:
    high = "('8','9','a','b','c','d','e','f')"
    sums = ",\n   ".join(
        f"SUM(CASE WHEN substr(md5(tk), {j + 1}, 1) IN {high} THEN 1 ELSE -1 END) AS s{j}"
        for j in range(16)
    )
    bits = " + ".join(f"(CASE WHEN s{j} > 0 THEN {2**j} ELSE 0 END)" for j in range(16))
    return f"""
WITH d AS (SELECT doc_id,
       list_filter(string_split_regex(regexp_replace(lower(text), '^\\s+|\\s+$', '', 'g'), '\\s+'),
                   t0 -> t0 <> '') AS toks
       FROM documents),
tok AS (SELECT doc_id, unnest(toks) AS tk FROM d),
bitsum AS (SELECT doc_id,
   {sums}
   FROM tok GROUP BY doc_id)
SELECT doc_id, CAST({bits} AS BIGINT) AS simhash FROM bitsum
"""


DEDUP_SIMHASH_SQL = _simhash_sql()


#: 4 bands × 16 bits: exact for Hamming ≤ 3 (pigeonhole), Σ bucket²
#: ≈ 402k candidate rows at sf0.1 vs 12.5M all-pairs (31×), 312
#: result pairs. The ORACLE is the brute-force all-pairs definition —
#: banding is guaranteed lossless at this distance, so the hash gate
#: proves the bucketed plan equals the textbook semantics.
SIMHASH_MAX_DIST = 3
SIMHASH_N_BANDS = 4


def dedup_simhash_hamming(spark: SparkSession, sf: str) -> DataFrame:
    return simhash_hamming_pairs(
        t(spark, sf, "documents"), "doc_id", "text",
        max_dist=SIMHASH_MAX_DIST, n_bands=SIMHASH_N_BANDS,
    )


def _simhash_hamming_sql() -> str:
    hexd = "0123456789abcdef"
    sums = ",\n   ".join(
        f"SUM(CASE WHEN (strpos('{hexd}', substr(md5(tk), {q + 1}, 1)) - 1) & {8 >> i} != 0 "
        f"THEN 1 ELSE -1 END) AS s_{q}_{i}"
        for q in range(16)
        for i in range(4)
    )
    nibs = []
    for q in range(16):
        v = " + ".join(
            f"(CASE WHEN s_{q}_{i} > 0 THEN {8 >> i} ELSE 0 END)" for i in range(4)
        )
        nibs.append(f"substr('{hexd}', 1 + ({v}), 1)")
    fp = " || ".join(nibs)
    ham = " + ".join(
        f"bit_count(xor(strpos('{hexd}', substr(a.sim, {q + 1}, 1)) - 1, "
        f"strpos('{hexd}', substr(b.sim, {q + 1}, 1)) - 1))"
        for q in range(16)
    )
    return f"""
WITH d AS (SELECT doc_id,
       list_filter(string_split_regex(regexp_replace(lower(text), '^\\s+|\\s+$', '', 'g'), '\\s+'),
                   t0 -> t0 <> '') AS toks
       FROM documents),
tok AS (SELECT doc_id, unnest(toks) AS tk FROM d),
bitsum AS (SELECT doc_id,
   {sums}
   FROM tok GROUP BY doc_id),
fp AS (SELECT doc_id, {fp} AS sim FROM bitsum)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST({ham} AS INT) AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE ({ham}) <= {SIMHASH_MAX_DIST}
"""


DEDUP_SIMHASH_HAMMING_SQL = _simhash_hamming_sql()


def dedup_components(spark: SparkSession, sf: str) -> DataFrame:
    """Fuzzy-dedup clusters: MinHash-LSH candidate pairs → connected
    components (local union-find contraction, then star rounds over
    any component it leaves open). The oracle computes
    the same components with a recursive CTE over the same pairs —
    component = min doc_id reachable in the undirected candidate
    graph. Edges are the connectivity-equivalent per-bucket STARS
    (hub = bucket min), not within-bucket cliques — identical
    components (what this query outputs) at Σg instead of Σg² edges,
    so the oracle's clique-pair walk still agrees."""
    docs = t(spark, sf, "documents")
    pairs = minhash_lsh_star_edges(
        docs, "doc_id", "text", n_hashes=N_HASHES, band_size=BAND_SIZE, shingle_n=3
    )
    labels = connected_components(
        docs.select(F.col("doc_id").alias("id")), pairs, max_iterations=30
    )
    return labels.select(F.col("id").alias("doc_id"), "component")


def dedup_components_star(spark: SparkSession, sf: str) -> DataFrame:
    """Same clusters via the alternating large-star/small-star
    algorithm — the O(log² n)-round scale path for high-diameter
    graphs. Shares the recursive-CTE oracle with dedup_components
    (identical expected output). Star edges (see dedup_components)."""
    docs = t(spark, sf, "documents")
    pairs = minhash_lsh_star_edges(
        docs, "doc_id", "text", n_hashes=N_HASHES, band_size=BAND_SIZE, shingle_n=3
    )
    labels = connected_components_star(
        docs.select(F.col("doc_id").alias("id")), pairs, max_iterations=25
    )
    return labels.select(F.col("id").alias("doc_id"), "component")


def _components_sql() -> str:
    minhash = _minhash_sql()
    # reuse the full minhash candidate-pair query as a CTE, then close
    # over the symmetric edge relation with a recursive walk
    assert minhash.startswith("\nWITH ")
    body = minhash[len("\nWITH ") :]
    cte_part, final_select = body.rsplit("SELECT DISTINCT", 1)
    return f"""
WITH RECURSIVE {cte_part.rstrip()},
pairs AS (SELECT DISTINCT {final_select}),
verts AS (SELECT doc_id AS vid FROM documents),
edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
walk(wid, label) AS (
  SELECT vid, vid FROM verts
  UNION
  SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.wid
)
SELECT wid AS doc_id, MIN(label) AS component FROM walk GROUP BY wid
"""


DEDUP_COMPONENTS_SQL = _components_sql()


def dedup_keep_canonical(spark: SparkSession, sf: str) -> DataFrame:
    """The dedup pipeline's actual OUTPUT: the corpus with one
    canonical doc (min doc_id) kept per near-dup cluster — MinHash-LSH
    pairs → connected components → filter id == component → join doc
    metadata back. This is the end-to-end shape a 100 TB training-data
    dedup runs: everything before the final join is id-only (narrow
    shuffles); text/metadata rejoin only for the survivors. Edges are
    per-bucket stars — the same clusters as clique pairs at Σg
    instead of Σg² edges (301k → 21k at sf0.1)."""
    docs = t(spark, sf, "documents")
    pairs = minhash_lsh_star_edges(
        docs, "doc_id", "text", n_hashes=N_HASHES, band_size=BAND_SIZE, shingle_n=3
    )
    labels = connected_components(
        docs.select(F.col("doc_id").alias("id")), pairs, max_iterations=30
    )
    keep = labels.filter(F.col("id") == F.col("component")).select("id")
    return docs.join(keep, docs.doc_id == keep.id, "left_semi").select(
        "doc_id", "lang", "source", "n_chars"
    )


_FINAL_SELECT = "SELECT wid AS doc_id, MIN(label) AS component FROM walk GROUP BY wid"
assert DEDUP_COMPONENTS_SQL.rstrip().endswith(_FINAL_SELECT)
_CANON_CTES = DEDUP_COMPONENTS_SQL.rstrip()[: -len(_FINAL_SELECT)].rstrip()
DEDUP_KEEP_CANONICAL_SQL = f"""{_CANON_CTES},
labels AS (SELECT wid AS did, MIN(label) AS component FROM walk GROUP BY wid)
SELECT d.doc_id, d.lang, d.source, d.n_chars
FROM documents d JOIN labels l ON d.doc_id = l.did
WHERE l.did = l.component
"""


def dedup_embedding(spark: SparkSession, sf: str) -> DataFrame:
    """Scale-path embedding near-dup: multi-table LSH bucket pair
    generation + cosine refine over the FULL embeddings table (no
    sampling needed — the plan is a bucket equi-join, never a
    crossJoin). The oracle computes the identical bucketed semantics,
    so recall loss vs all-pairs is mirrored on both engines."""
    return embedding_neardup_pairs_lsh(
        t(spark, sf, "embeddings"), "vec_id", "embedding",
        threshold=COSINE_THRESHOLD, n_bits=EMB_N_BITS, dim=EMB_DIM,
        n_tables=EMB_N_TABLES,
    )


def _emb_bucket_sql(v: str, offset: int) -> str:
    half = EMB_DIM // 2
    terms = [
        f"(CASE WHEN {v}[{offset + i + 1}] > {v}[{offset + i + 1 + half}] "
        f"THEN {2 ** (EMB_N_BITS - 1 - i)} ELSE 0 END)"
        for i in range(EMB_N_BITS)
    ]
    return " + ".join(terms)


def _embedding_sql() -> str:
    per_table = "\n  UNION ALL ".join(
        f"SELECT vec_id, {tbl} AS tbl, "
        f"CAST({_emb_bucket_sql('embedding', tbl * EMB_N_BITS)} AS INT) AS bucket "
        "FROM embeddings"
        for tbl in range(EMB_N_TABLES)
    )
    cos = "list_dot_product(ea.v, eb.v) / (ea.nrm * eb.nrm)"
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                  sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
           FROM embeddings),
bk AS (
  {per_table}
),
pairs AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
          FROM bk a JOIN bk b
            ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id)
SELECT id_a, id_b,
       floor({cos} * 1000000.0 + 0.5) / 1000000.0 AS cosine
FROM pairs
JOIN e ea ON id_a = ea.vec_id
JOIN e eb ON id_b = eb.vec_id
WHERE {cos} >= {COSINE_THRESHOLD}
"""


DEDUP_EMBEDDING_SQL = _embedding_sql()


# --------------------------------------------------------------- r8 folds
#
# Registry-size discipline (COVERAGE.md rotation note): the minhash,
# simhash, and connected-components pairs fold into leg-tagged
# composites — every pre-fold leg still executes inside the
# composite's driver hash; each leg's oracle is its pre-fold full
# statement (queries/base.py::fold_legs/fold_sql).

from queryengine_spark.queries.base import fold_legs, fold_sql  # noqa: E402

_MINHASH_SUITE_COLS = [
    ("id_a", "bigint"),
    ("id_b", "bigint"),
    ("est_jaccard", "double"),
]
_SIMHASH_SUITE_COLS = [
    ("doc_id", "bigint"),
    ("simhash", "bigint"),
    ("id_a", "bigint"),
    ("id_b", "bigint"),
    ("hamming", "int"),
]
_COMPONENTS_SUITE_COLS = [
    ("doc_id", "bigint"),
    ("component", "bigint"),
]


def dedup_minhash_suite(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash fold (r8): leg 'lsh' = band-bucket candidate pairs;
    leg 'jaccard' = the same pairs with their signature-estimated
    Jaccard. Pre-fold semantics of dedup_minhash_lsh /
    dedup_minhash_jaccard, unchanged."""
    return fold_legs(
        [
            ("lsh", dedup_minhash_lsh(spark, sf)),
            ("jaccard", dedup_minhash_jaccard(spark, sf)),
        ],
        _MINHASH_SUITE_COLS,
    )


def dedup_simhash_suite(spark: SparkSession, sf: str) -> DataFrame:
    """SimHash fold (r8): leg 'fingerprints' = per-doc 64-bit
    simhash; leg 'pairs' = banded Hamming near-dup pairs. Pre-fold
    semantics of dedup_simhash / dedup_simhash_hamming, unchanged."""
    return fold_legs(
        [
            ("fingerprints", dedup_simhash(spark, sf)),
            ("pairs", dedup_simhash_hamming(spark, sf)),
        ],
        _SIMHASH_SUITE_COLS,
    )


def dedup_components_suite(spark: SparkSession, sf: str) -> DataFrame:
    """Connected-components fold (r8): leg 'labelprop' =
    :func:`dedup_components` (local contraction first; the leg keeps
    its historical name, which is output data), leg 'star' = the
    alternating star rounds over every edge — both must produce
    IDENTICAL components (they share one oracle statement, so the
    composite hash pins backend agreement twice over)."""
    return fold_legs(
        [
            ("labelprop", dedup_components(spark, sf)),
            ("star", dedup_components_star(spark, sf)),
        ],
        _COMPONENTS_SUITE_COLS,
    )


DEDUP_MINHASH_SUITE_SQL = fold_sql(
    [
        ("lsh", DEDUP_MINHASH_SQL, {"id_a", "id_b"}),
        ("jaccard", DEDUP_MINHASH_JACCARD_SQL, {"id_a", "id_b", "est_jaccard"}),
    ],
    _MINHASH_SUITE_COLS,
)
DEDUP_SIMHASH_SUITE_SQL = fold_sql(
    [
        ("fingerprints", DEDUP_SIMHASH_SQL, {"doc_id", "simhash"}),
        ("pairs", DEDUP_SIMHASH_HAMMING_SQL, {"id_a", "id_b", "hamming"}),
    ],
    _SIMHASH_SUITE_COLS,
)
DEDUP_COMPONENTS_SUITE_SQL = fold_sql(
    [
        ("labelprop", DEDUP_COMPONENTS_SQL, {"doc_id", "component"}),
        ("star", DEDUP_COMPONENTS_SQL, {"doc_id", "component"}),
    ],
    _COMPONENTS_SUITE_COLS,
)


QUERIES = {
    "dedup_exact": (dedup_exact, DEDUP_EXACT_SQL),
    "dedup_ngram_jaccard": (dedup_ngram_jaccard, DEDUP_JACCARD_SQL),
    "dedup_minhash_suite": (dedup_minhash_suite, DEDUP_MINHASH_SUITE_SQL),
    "dedup_simhash_suite": (dedup_simhash_suite, DEDUP_SIMHASH_SUITE_SQL),
    "dedup_components_suite": (dedup_components_suite, DEDUP_COMPONENTS_SUITE_SQL),
    "dedup_keep_canonical": (dedup_keep_canonical, DEDUP_KEEP_CANONICAL_SQL),
    "dedup_embedding": (dedup_embedding, DEDUP_EMBEDDING_SQL),
}
