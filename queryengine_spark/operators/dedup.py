"""Deduplication operators for large-scale text corpora — the
LLM-data-pipeline surface (BASELINE.json north star). All operators
are declarative DataFrame plans over an (id, text) relation; nothing
touches the driver.

Scale notes:
- exact: hash-groupBy, one shuffle on a 32-hex key, map-side partial
  aggregation.
- n-gram Jaccard: inverted-index equi-join on shingles (identical
  result to all-pairs for any threshold > 0, since zero-overlap pairs
  can't pass); optional max_df stop-shingle cap bounds the hot-key
  blowup at corpus scale (documented approximation).
- MinHash+LSH: k md5-derived min-hashes per document → banded
  bucket join; only same-bucket pairs meet, turning O(n²) into
  O(Σ bucket²). Hash = 32-bit slices of md5(seed ':' shingle); the
  signature is one mapInArrow pass over the document partitions
  (each distinct shingle hashed once per Arrow batch, no explode, no
  shuffle), whose numeric min equals the lexicographic min on hex
  the SQL oracles take — deterministic and engine-portable.
- SimHash: 64-bit hex-string fingerprint (simhash64_relation); bit
  4q+i is the sign of the sum over tokens of ±1 by bit i of hex
  nibble q of md5(token). Near-dup pairs via banded Hamming search
  (simhash_hamming_pairs): band-bucket equi-join + distance residual,
  EXACT for max_dist < n_bands by pigeonhole. The legacy 16-bit
  variants (simhash_fingerprint/simhash_relation) remain for the
  equal-fingerprint query.
- embedding cosine: JVM-side cosine over array columns; the scale
  path generates candidate pairs from multi-table sign-test LSH
  buckets (bucket equi-self-join, operators/knn.py) with cosine as
  the refine residual; the all-pairs variant is the small-N oracle
  twin that measures its recall.
- connected components (near-dup pairs → clusters): one exact
  union-find per ``src`` partition of the symmetric edge relation
  (a mapInArrow over an AQE-sized repartition) contracts each
  partition's components to stars; when every component closes
  inside one partition (every small graph) that is the answer, and
  otherwise the large-star/small-star rounds (O(log² n)) run over
  the contracted stars only. The same rounds over every edge stay
  as the suite's second leg (connected_components_star).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ByteType, StringType, StructField, StructType

from queryengine_spark.functions.numeric import fround
from queryengine_spark.functions.similarity import cosine_similarity
from queryengine_spark.functions.text import char_ngrams, tokenize_ws
from queryengine_spark.plans import spread

_HEX_HIGH = ("8", "9", "a", "b", "c", "d", "e", "f")

#: rounds the most recent connected-components call took to converge:
#: the star rounds of connected_components_star, or 1 for the
#: contraction of connected_components plus its star rounds, if any
#: — measurement hook (perfbench's dedup.cc_rounds, docs/SCALE.md);
#: not part of any result.
LAST_CC_ROUNDS = 0


def exact_duplicate_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup via content hash: (text_hash, n_docs, keep_id) per
    group, keep_id = smallest id (the canonical survivor)."""
    return (
        df.select(F.col(id_col).alias("id"), F.md5(F.col(text_col)).alias("text_hash"))
        .groupBy("text_hash")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("id").alias("keep_id"))
    )


def shingle_relation(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """(id, shingle) with distinct character n-grams of lower(text).
    Input is spread across the cluster first — the explode multiplies
    rows by ~|text|, so it must not run on one partition."""
    df = spread(df)
    return df.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(char_ngrams(F.lower(F.col(text_col)), n))).alias("sh"),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
    max_df_ratio: float | None = None,
) -> DataFrame:
    """Near-duplicate pairs by character-n-gram Jaccard similarity.

    Inverted-index join (never all-pairs): identical to the exact
    Jaccard for threshold > 0 when unguarded. ``max_df`` (absolute) /
    ``max_df_ratio`` (fraction of the corpus) drop hot shingles before
    pairing — the scale guard that bounds the inverted self-join at
    Σ df² instead of quadratic blowup on stop-shingles. With a guard,
    Jaccard is computed over each document's RARE shingles only (a
    documented approximation; per-doc counts are taken after the
    drop, so the metric stays a true Jaccard of the reduced sets).
    Emits (id_a, id_b, jaccard) with id_a < id_b.
    """
    base = shingle_pair_counts(
        df, id_col, text_col, n, max_df=max_df, max_df_ratio=max_df_ratio
    )
    jac = F.col("shared") / (F.col("n_a") + F.col("n_b") - F.col("shared"))
    return (
        base.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def shingle_pair_counts(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    max_df: int | None = None,
    max_df_ratio: float | None = None,
) -> DataFrame:
    """The shared inverted-index stage of every shingle-overlap
    metric (Jaccard, containment): (id_a, id_b, shared, n_a, n_b)
    with id_a < id_b, over each doc's distinct character n-grams
    after the optional hot-shingle guard. One implementation so the
    guard and join shape cannot drift between metrics."""
    sh = shingle_relation(df, id_col, text_col, n)
    if max_df is not None or max_df_ratio is not None:
        # the shingle relation feeds both the df-count branch and the
        # anti-join probe; materialize it once
        sh = sh.localCheckpoint(eager=False)
        hot = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
        if max_df_ratio is not None:
            n_docs = df.select(F.count(F.lit(1)).alias("n_docs"))
            hot = hot.crossJoin(F.broadcast(n_docs)).filter(
                F.col("df") > F.lit(max_df_ratio) * F.col("n_docs")
            )
        else:
            hot = hot.filter(F.col("df") > max_df)
        sh = sh.join(F.broadcast(hot.select("sh")), "sh", "left_anti")
    # the shingle relation fans out into the self-join's two sides and
    # the per-doc counts; materialize it once (no exchange reuse across
    # differently-aliased branches)
    sh = sh.localCheckpoint(eager=False)
    counts = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col("id").alias("id_a"), "sh")
    b = sh.select(F.col("id").alias("id_b"), "sh")
    shared = (
        a.join(b, "sh")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    ca = counts.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"))
    cb = counts.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"))
    return shared.join(ca, "id_a").join(cb, "id_b")


#: distinct shingles whose digests the MinHash kernel keeps per Arrow
#: batch; past the cap the memo starts over. An entry is ~300 bytes at
#: the 24-hash layout, so the cap bounds a Python worker's memo near
#: 20 MB however long the documents of a batch are. Read on the driver
#: when the plan is built.
_SHINGLE_MEMO_MAX = 1 << 16


def _minhash_kernel(n_hashes: int, shingle_n: int, memo_max: int):
    """mapInArrow kernel over (id, lowered text) batches: one
    (id, h0..h{k-1}) row per document with at least ``shingle_n``
    characters. Each distinct shingle is md5-hashed once per batch
    (memo capped at ``memo_max`` entries); a document's signature is
    the numpy min over its shingles' big-endian uint32 digest slices,
    written as 8-char lowercase hex."""
    n_seeds = -(-n_hashes // 4)
    width = 4 * n_seeds  # uint32 slices per shingle
    salts = [f"{s}:".encode() for s in range(n_seeds)]
    names = ["id", *[f"h{i}" for i in range(n_hashes)]]

    def run(batches):
        md5 = hashlib.md5
        for batch in batches:
            memo: dict[str, bytes] = {}
            keep: list[int] = []
            mins: list[np.ndarray] = []
            for r, t in enumerate(batch.column(1).to_pylist()):
                if t is None or len(t) < shingle_n:
                    continue
                digests = []
                for sh in {t[i : i + shingle_n] for i in range(len(t) - shingle_n + 1)}:
                    d = memo.get(sh)
                    if d is None:
                        if len(memo) >= memo_max:
                            memo.clear()
                        b = sh.encode("utf-8")
                        d = memo[sh] = b"".join([md5(salt + b).digest() for salt in salts])
                    digests.append(d)
                words = np.frombuffer(b"".join(digests), dtype=">u4")
                mins.append(words.reshape(len(digests), width).min(axis=0))
                keep.append(r)
            if not keep:
                continue
            m = len(keep)
            ids = batch.column(0)
            if m < batch.num_rows:
                ids = ids.take(pa.array(keep, type=pa.int64()))
            # column-major hex: hash i's m values are one contiguous run
            # of 8-char strings, sliced into a string array without copies
            hexed = pa.py_buffer(
                np.ascontiguousarray(np.vstack(mins)[:, :n_hashes].T)
                .astype(">u4")
                .tobytes()
                .hex()
                .encode("ascii")
            )
            offsets = pa.py_buffer(np.arange(0, 8 * (m + 1), 8, dtype=np.int32))
            cols = [
                pa.StringArray.from_buffers(m, offsets, hexed.slice(8 * m * i, 8 * m))
                for i in range(n_hashes)
            ]
            yield pa.RecordBatch.from_arrays([ids, *cols], names=names)

    return run


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, n_hashes: int = 8, shingle_n: int = 3
) -> DataFrame:
    """(id, h0..h{k-1}) MinHash signature: h_i = min over the distinct
    character ``shingle_n``-grams of lower(text) of an 8-hex-char
    (32-bit) slice of md5('<i//4>:' || shingle), as lowercase hex —
    portable across engines (the DuckDB oracles compute the same min
    of hex substrings) and stable across partitionings. A document
    with NULL text or fewer than ``shingle_n`` characters has no row.
    Ids are unique (a document key, as at every caller): each input
    row yields its own signature row, with the id column's type.

    One salted md5 yields FOUR independent 32-bit hash functions
    (slices of a 128-bit digest), so k hashes cost ceil(k/4) md5
    calls per shingle instead of k. 32 bits per hash keeps
    min-collision probability negligible (shingle vocabularies ≪
    2^32).

    The pass is one ``mapInArrow`` over the spread document
    partitions: no shingle explode, no shuffle on id, no aggregate.
    Lower-casing stays on the JVM (Spark's case folding exactly);
    the n-grams are cut in Python over code points, as Spark's
    ``substr`` cuts them. Each distinct shingle is hashed once per
    Arrow batch through a memo capped at ``_SHINGLE_MEMO_MAX``
    entries, and each hash's minimum is a numpy min over big-endian
    uint32 slices: on fixed-width lowercase hex the lexicographic
    min the oracles take is the numeric min. The explode → md5 →
    string-min aggregate this replaces sorted every (document,
    shingle) row twice (a string min cannot run in a hash
    aggregate): on the 5,920-document ``dedup_components`` corpus,
    898k rows for 19,595 distinct shingles. Measured there on 4
    cores: the signature stage alone 3.1-3.5 → 0.8 s (median of 6
    runs), and the process CPU of a star-edge + components pass
    26.6 → 13.4 s (median of 10 runs)."""
    id_field = df.select(F.col(id_col)).schema[0]
    schema = StructType(
        [StructField("id", id_field.dataType, id_field.nullable)]
        + [StructField(f"h{i}", StringType()) for i in range(n_hashes)]
    )
    docs = spread(df).select(
        F.col(id_col).alias("id"), F.lower(F.col(text_col)).alias("text")
    )
    return docs.mapInArrow(
        _minhash_kernel(n_hashes, shingle_n, _SHINGLE_MEMO_MAX), schema
    )


def _band_bucket_array(n_hashes: int, band_size: int):
    """array<string> of per-band bucket ids over an h0..h{k-1}
    signature row: md5('<band>|h..|h..') — shared by the pair, star
    and jaccard-estimate variants so their buckets are identical."""
    n_bands = n_hashes // band_size
    return F.array(
        *[
            F.md5(
                F.concat_ws(
                    "|",
                    F.lit(str(b)),
                    *[F.col(f"h{b * band_size + j}") for j in range(band_size)],
                )
            )
            for b in range(n_bands)
        ]
    )


def _bucket_pairs(buckets: DataFrame, max_bucket: int | None) -> DataFrame:
    """(id_a, id_b) with id_a < id_b, distinct: the ids of (id, bucket)
    that share a bucket, by a bucket equi-self-join, after dropping
    buckets of more than ``max_bucket`` members when it is set."""
    if max_bucket is not None:
        # window count instead of agg+join: one shuffle on bucket,
        # whose partitioning the self-join below then reuses
        g = Window.partitionBy("bucket")
        buckets = (
            buckets.withColumn("g", F.count(F.lit(1)).over(g))
            .filter(F.col("g") <= max_bucket)
            .drop("g")
        )
    a = buckets.select(F.col("id").alias("id_a"), "bucket")
    b = buckets.select(F.col("id").alias("id_b"), "bucket")
    return (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_lsh_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 8,
    band_size: int = 2,
    shingle_n: int = 3,
    max_bucket: int | None = None,
) -> DataFrame:
    """LSH banding over MinHash signatures: docs sharing any band
    bucket become candidate pairs (id_a < id_b, distinct).

    ``max_bucket`` drops band buckets with more than that many
    members BEFORE pair expansion — the standard production guard
    for pair-emitting LSH: a bucket of g docs contributes g(g-1)/2
    pairs, so one boilerplate/template bucket (g in the hundreds+)
    dominates the whole output quadratically while contributing
    near-zero true near-dup signal (huge buckets = shared
    boilerplate, better handled by component clustering over star
    edges — :func:`minhash_lsh_star_edges`). With the cap, total
    work is O(Σ min(g, cap)²) = O(n_buckets · cap²): linear in
    corpus growth instead of quadratic in the hottest bucket.

    Pair generation is a bucket equi-self-join. The signature
    relation is locally checkpointed first: Spark reuses no exchange
    across differently-aliased self-join branches, so without it the
    whole shingle→signature pipeline would execute twice. The join
    (not an in-array pair expansion) keeps skewed buckets distributed
    — a hot bucket's g² pairs spread over tasks instead of
    materializing as one giant array (AQE splits skewed keys)."""
    assert n_hashes % band_size == 0
    sig = minhash_signatures(df, id_col, text_col, n_hashes, shingle_n)
    buckets = sig.select(
        "id", F.explode(_band_bucket_array(n_hashes, band_size)).alias("bucket")
    ).localCheckpoint(eager=False)
    return _bucket_pairs(buckets, max_bucket)


def minhash_lsh_star_edges(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 8,
    band_size: int = 2,
    shingle_n: int = 3,
) -> DataFrame:
    """Connectivity-equivalent SPARSE edge set for component-based
    dedup: per LSH band bucket, emit (bucket-min id → member) star
    edges instead of the full within-bucket clique.

    A bucket of g docs contributes g-1 edges rather than g(g-1)/2 —
    every doc stays connected through the bucket hub, so connected
    components (and therefore dedup clusters) are IDENTICAL to those
    of :func:`minhash_lsh_candidate_pairs`, while edge count drops
    from Σg² to Σg. At sf0.1 this is 301k clique pairs → ≤40k star
    edges; at 100 TB it is the difference between a quadratic blowup
    on hot buckets and linear work. Use the clique variant when the
    pairs themselves are the output (pair-level scoring); use this
    when only the clustering matters. Output: (id_a, id_b) with
    id_a = bucket min < id_b, distinct."""
    assert n_hashes % band_size == 0
    sig = minhash_signatures(df, id_col, text_col, n_hashes, shingle_n)
    buckets = sig.select(
        "id", F.explode(_band_bucket_array(n_hashes, band_size)).alias("bucket")
    )
    hub = Window.partitionBy("bucket")
    return (
        buckets.withColumn("id_a", F.min("id").over(hub))
        .filter(F.col("id") != F.col("id_a"))
        .select("id_a", F.col("id").alias("id_b"))
        .distinct()
    )


def minhash_candidate_jaccard(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 8,
    band_size: int = 2,
    shingle_n: int = 3,
    max_bucket: int | None = None,
    n_est_hashes: int = 8,
) -> DataFrame:
    """LSH candidate pairs SCORED by the MinHash Jaccard estimate:
    est_jaccard = (#agreeing min-hashes)/n_est_hashes over
    ``n_est_hashes`` hash functions RESERVED for estimation — disjoint
    from the ``n_hashes`` used for banding. The split matters: a pair
    becomes a candidate precisely because one band of hashes fully
    agreed, so estimating from the banding hashes is conditioned on
    its own selection (measured +0.20 systematic bias, with a hard
    est floor of band_size/n_hashes); reserved hashes are unbiased
    per pair, and the residual corpus-mean error is shared-hash
    sampling noise that follows the textbook 1/√k: measured MAE vs
    exact Jaccard on the sf0.001 corpus 0.165 / 0.110 / 0.059 at
    k = 8 / 16 / 32 (tests/test_dedup.py pins the k=8 bound).

    This is the middle path between raw candidate pairs (no score)
    and the exact n-gram Jaccard join (recomputes shingle
    intersections per pair): one signature relation serves both
    banding and scoring, so scoring costs two narrow id-joins against
    the checkpointed signatures — per-pair work O(n_est_hashes),
    independent of document length. At 100 TB this is how pair
    scoring stays affordable: exact Jaccard re-touches text, the
    estimator touches only the sketch.

    Output: (id_a, id_b, est_jaccard) for capped band-bucket
    candidate pairs (id_a < id_b, distinct)."""
    assert n_hashes % band_size == 0
    total = n_hashes + n_est_hashes
    sig = minhash_signatures(df, id_col, text_col, total, shingle_n).localCheckpoint(
        eager=False
    )
    pairs = _bucket_pairs(
        sig.select(
            "id", F.explode(_band_bucket_array(n_hashes, band_size)).alias("bucket")
        ),
        max_bucket,
    )
    est_range = range(n_hashes, total)
    sa = sig.select(
        F.col("id").alias("id_a"),
        *[F.col(f"h{i}").alias(f"ha{i}") for i in est_range],
    )
    sb = sig.select(
        F.col("id").alias("id_b"),
        *[F.col(f"h{i}").alias(f"hb{i}") for i in est_range],
    )
    agree = None
    for i in est_range:
        term = (F.col(f"ha{i}") == F.col(f"hb{i}")).cast("int")
        agree = term if agree is None else agree + term
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            (agree / F.lit(float(n_est_hashes))).alias("est_jaccard"),
        )
    )


def simhash_fingerprint(text_col: Column | str, bits: int = 16) -> Column:
    """Per-row 16-bit SimHash over whitespace tokens of lower(text):
    bit j = sign of Σ_tokens (±1 by high bit of hex nibble j of
    md5(token)). Pure column expression (works inside any groupBy-free
    projection); near-dups share fingerprints (Hamming-0) or band
    prefixes."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    toks = tokenize_ws(F.lower(c))
    high = list(_HEX_HIGH)

    def bit_contrib(j: int):
        # single-parameter lambda: PySpark higher-order lambdas
        # dispatch on arity, so the nibble index must be captured by
        # closure, not by a default argument.
        nib = F.transform(
            toks,
            lambda tk: F.when(F.substring(F.md5(tk), j + 1, 1).isin(high), 1).otherwise(-1),
        )
        bit_sum = F.aggregate(nib, F.lit(0), lambda acc, v: acc + v)
        return F.when(bit_sum > 0, F.lit(2**j)).otherwise(F.lit(0))

    total = F.lit(0)
    for j in range(bits):
        total = total + bit_contrib(j)
    return total.cast("bigint")


def simhash_relation(
    df: DataFrame, id_col: str, text_col: str, bits: int = 16
) -> DataFrame:
    """(id, simhash): the scale-path SimHash — explode tokens, hash
    each token ONCE, aggregate the ±1 nibble contributions per bit.
    Prefer this over the column-expression variant for large corpora:
    one md5 per token (vs one per token per bit) and fully parallel
    after the token explode."""
    toks = tokenize_ws(F.lower(F.col(text_col)))
    tok = spread(df).select(
        F.col(id_col).alias("id"), F.explode(toks).alias("tk")
    ).withColumn("h", F.md5(F.col("tk")))
    aggs = [
        F.sum(
            F.when(F.substring("h", j + 1, 1).isin(list(_HEX_HIGH)), 1).otherwise(-1)
        ).alias(f"s{j}")
        for j in range(bits)
    ]
    sums = tok.groupBy("id").agg(*aggs)
    total = F.lit(0)
    for j in range(bits):
        total = total + F.when(F.col(f"s{j}") > 0, F.lit(2**j)).otherwise(F.lit(0))
    return sums.select("id", total.cast("bigint").alias("simhash"))


_HEX = "0123456789abcdef"


@F.pandas_udf(StringType())
def _simhash64_udf(toks: pd.Series) -> pd.Series:
    """Arrow-batched 64-bit SimHash over a token-array column. Bit
    j (j = 4q+i, nibble q in 0..15, bit i MSB-first) is set when
    Σ_tokens count·(±1) > 0, sign = bit i of hex nibble q of
    md5(token). hashlib.md5 on UTF-8 bytes is the identical function
    to Spark's/DuckDB's md5, and the weighted sums are pure integer
    arithmetic (order-independent), so the fingerprint is bit-exact
    across engines. Tokenless docs → NULL (the relation drops them,
    matching the old groupBy which never saw them). Distinct tokens
    hash once per Arrow batch (vocabulary ≪ occurrences)."""
    import hashlib
    from collections import Counter

    masks = np.array([8, 4, 2, 1], dtype=np.int64)
    cache: dict[str, np.ndarray] = {}
    out: list[str | None] = []
    for arr in toks:
        if arr is None or len(arr) == 0:
            out.append(None)
            continue
        sums = np.zeros(64, dtype=np.int64)
        for tk, c in Counter(arr).items():
            bits = cache.get(tk)
            if bits is None:
                h = hashlib.md5(tk.encode("utf-8")).hexdigest()
                nib = np.array([int(ch, 16) for ch in h[:16]], dtype=np.int64)
                bits = np.where((nib[:, None] & masks[None, :]) != 0, 1, -1).reshape(64)
                cache[tk] = bits
            sums += c * bits
        vals = ((sums > 0).astype(np.int64).reshape(16, 4) * masks).sum(axis=1)
        out.append("".join(_HEX[v] for v in vals))
    return pd.Series(out)


def simhash64_relation(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, sim) with sim a 16-hex-char (64-bit) SimHash fingerprint
    emitted as a lowercase hex STRING: engine-portable (no 64-bit
    signed overflow at bit 63) and substring-able into bands.

    Tokenization/lowercasing stay JVM-side (exact string-semantics
    parity with the SQL twin); hashing + the 64 weighted integer sums
    run in one Arrow UDF per doc partition — replacing the previous
    explode → vocab-join → 64-column aggregate, whose wide
    interpreted plan cost ~1.8 ms/doc (8.8 s for 5k docs at sf0.1)
    against ~0.2 ms/doc here, with zero shuffles instead of three."""
    toks = tokenize_ws(F.lower(F.col(text_col)))
    return (
        spread(df)
        .select(F.col(id_col).alias("id"), _simhash64_udf(toks).alias("sim"))
        .filter(F.col("sim").isNotNull())
    )


def simhash_hamming_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_dist: int = 3,
    n_bands: int = 4,
) -> DataFrame:
    """Near-dup pairs by 64-bit SimHash with banded Hamming search:
    (id_a, id_b, hamming) for all pairs with Hamming(sim_a, sim_b) ≤
    ``max_dist``.

    Candidate generation is a band-bucket equi-self-join (the
    fingerprint split into ``n_bands`` contiguous hex substrings); by
    pigeonhole any pair within ``max_dist`` < ``n_bands`` differs in
    at most max_dist bands and therefore MATCHES at least one band —
    so for max_dist ≤ n_bands-1 the result is EXACT (identical to the
    all-pairs filter, which is the oracle), while the join does
    O(Σ bucket²) work instead of O(n²). Distance is re-checked as the
    refine residual, so wider bands only cost candidates, never
    correctness.

    The fingerprint is pre-split into two 32-bit ints (hi/lo hex
    halves — 8 hex chars each, so conv() never overflows a signed
    BIGINT) that ride along through the band explode; the per-pair
    residual is then two xor+bit_count expressions instead of 64
    nibble ops, and no join back to the fingerprint relation is
    needed at all."""
    return banded_hamming64_pairs(
        simhash64_relation(df, id_col, text_col),
        max_dist=max_dist,
        n_bands=n_bands,
    )


def banded_hamming64_pairs(
    fingerprints: DataFrame,
    max_dist: int = 3,
    n_bands: int = 4,
) -> DataFrame:
    """Banded Hamming self-join over ANY 64-bit fingerprint relation
    ``(id, sim)`` with ``sim`` a 16-hex-char lowercase string —
    the candidate-generation + refine core shared by text SimHash
    (simhash_hamming_pairs) and image perceptual-hash dedup
    (multimodal/phash.py). Exactness/pigeonhole and the hi/lo split
    are documented on simhash_hamming_pairs."""
    assert 16 % n_bands == 0, "bands must tile the 16 hex chars"
    assert max_dist < n_bands * 64, "nonsense distance"
    w = 16 // n_bands
    fp = (
        fingerprints
        .select(
            "id",
            "sim",
            F.conv(F.substring("sim", 1, 8), 16, 10).cast("bigint").alias("hi"),
            F.conv(F.substring("sim", 9, 8), 16, 10).cast("bigint").alias("lo"),
        )
        .localCheckpoint(eager=False)
    )
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("b"),
                F.substring("sim", b * w + 1, w).alias("band"),
            )
            for b in range(n_bands)
        ]
    )
    bk = fp.select("id", "hi", "lo", F.explode(bands).alias("bb")).select(
        "id", "hi", "lo", F.col("bb.b").alias("b"), F.col("bb.band").alias("band")
    )
    a = bk.select(
        F.col("id").alias("id_a"), F.col("hi").alias("hi_a"),
        F.col("lo").alias("lo_a"), "b", "band",
    )
    b_ = bk.select(
        F.col("id").alias("id_b"), F.col("hi").alias("hi_b"),
        F.col("lo").alias("lo_b"), "b", "band",
    )
    ham = (
        F.bit_count(F.col("hi_a").bitwiseXOR(F.col("hi_b")))
        + F.bit_count(F.col("lo_a").bitwiseXOR(F.col("lo_b")))
    ).cast("int")
    return (
        a.join(b_, ["b", "band"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "hi_a", "lo_a", "hi_b", "lo_b")
        .distinct()
        .withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_dist)
        .select("id_a", "id_b", "hamming")
    )


def _min_roots(n: int, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Exact union-find over dense indices 0..n-1 joined by the edges
    (a[i], b[i]), vectorised: each node's root is the smallest index
    of its component. Every pass hooks each edge's larger root onto
    the smaller one and compresses the pointers to roots; pointers
    only decrease, so there are no cycles, and each pass removes at
    least one root until no edge crosses two components."""
    parent = np.arange(n)
    while a.size:
        a, b = parent[a], parent[b]
        cross = a != b
        a, b = a[cross], b[cross]
        np.minimum.at(parent, np.maximum(a, b), np.minimum(a, b))
        while True:
            nxt = parent[parent]
            if np.array_equal(nxt, parent):
                break
            parent = nxt
    return parent


def _local_components(batches):
    """mapInArrow kernel over one ``src`` partition of the symmetric,
    self-looped edge relation: one union-find over every row of the
    partition, then one (u, root, kind) row per id u the partition
    mentions, where root is the min id of u's local component.

    ``kind`` is 1 when u is a vertex (its self-loop row is here), 0
    when u is a ``src`` here without a self-loop (an edge endpoint
    outside ``vertices``), and NULL when u is only a ``dst`` here. A
    local component whose ids are all ``src`` here holds every edge
    of its ids, so it is a whole component and is final: it is left
    out when it has no vertex. Rows with a NULL endpoint give one
    all-NULL row."""
    batches = list(batches)
    if not batches:
        return
    table = pa.Table.from_batches(batches)
    valid = table.filter(pc.and_(
        pc.is_valid(table.column(0)), pc.is_valid(table.column(1))))
    src = valid.column(0).to_numpy()
    ids, idx = np.unique(np.concatenate([src, valid.column(1).to_numpy()]),
                         return_inverse=True)
    s, d = idx[: len(src)], idx[len(src):]
    loop = s == d
    is_src = np.zeros(len(ids), bool)
    is_src[s] = True
    is_vertex = np.zeros(len(ids), bool)
    is_vertex[s[loop]] = True
    root = _min_roots(len(ids), s[~loop], d[~loop])
    closed = np.ones(len(ids), bool)
    closed[root[~is_src]] = False
    has_vertex = np.zeros(len(ids), bool)
    has_vertex[root[is_vertex]] = True
    keep = ~(closed & ~has_vertex)[root]
    kind = pa.array(is_vertex[keep].astype(np.int8), mask=~is_src[keep])
    names = ["u", "root", "kind"]
    yield pa.RecordBatch.from_arrays(
        [pa.array(ids[keep]), pa.array(ids[root[keep]]), kind], names=names)
    if valid.num_rows < table.num_rows:
        id_type = table.schema.field(0).type
        yield pa.RecordBatch.from_arrays(
            [pa.nulls(1, id_type), pa.nulls(1, id_type), pa.nulls(1, pa.int8())],
            names=names)


def connected_components(
    vertices: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iterations: int = 20,
) -> DataFrame:
    """Connected components by local contraction, then the
    large-star/small-star rounds over what is left — turns
    near-dup candidate PAIRS into dedup CLUSTERS (the final step of
    fuzzy dedup: keep one doc per component). Returns (id, component)
    with component = min id in the component.

    Contract: vertex ids are UNIQUE and every edge endpoint is drawn
    from ``vertices`` (true for every caller — edges are produced by
    LSH/banding over the same corpus the vertices come from). An edge
    between a vertex and an id outside ``vertices`` (or NULL) raises
    ValueError. An input edge (a, a) adds no vertex, and a component
    made only of non-vertices is left out of the output.

    1. Contraction (Łącki et al., "Connected Components at Scale via
       Local Contractions", arXiv 1807.10727). The symmetric edge
       relation, with one self-loop row per vertex, is built in ONE
       pass over ``edges`` (both directions out of a single explode)
       and repartitioned by ``src`` with no partition count, so AQE
       sizes it. One ``mapInArrow`` runs an exact union-find over
       each partition (:func:`_local_components`) and emits
       (u, local_root, kind), pinned with a lazy ``localCheckpoint``.
       All of a vertex's edges land in the partition of its own
       self-loop row, so the kernel knows there whether an id is a
       vertex. A local component is final when every id in it is a
       ``src`` of its partition; the kernel drops it if it holds no
       vertex and keeps its non-vertex ids (kind 0) otherwise.
    2. One aggregate over the contracted rows counts the NULL
       endpoints, the rows of ids that are only a ``dst`` in a
       partition (open components) and the kind-0 rows. With no open
       component every local root is already the component minimum:
       kind-0 rows raise, and the contracted rows are the answer
       (the contraction counts as round 1 of ``LAST_CC_ROUNDS``). On
       a small graph AQE coalesces the repartition to one partition,
       so this is the path taken.
    3. Otherwise each id's kind is min(kind) over its rows (only its
       own partition's row is not NULL), and one aggregate counts the
       contracted edges (u, local_root) that join a vertex to a
       non-vertex: a mixed component always has one, so it raises
       here. Then :func:`_star_rounds` runs over the contracted edges
       with u != local_root (``LAST_CC_ROUNDS`` = 1 + its rounds), and
       each vertex's component is its fixed-point center, or itself.

    Measured on one 5,920-document ``dedup_components`` input (7,703
    star edges, local[4], calls after the first in one Spark session):
    min-label propagation over every edge, which the contraction
    replaced, took 9 rounds, 91-94 Spark jobs and 4.3-5.0 s per call;
    the contraction takes one partition, no round, 4 jobs and
    1.0-1.5 s. Forcing the fallback on the same input (8 uncoalesced
    shuffle partitions) took 4 star rounds, 52 jobs and 4.8-7.5 s, so
    the closed-component shortcut pays.
    """
    both_dirs = F.explode(
        F.array(
            F.struct(F.col(src_col).alias("src"), F.col(dst_col).alias("dst")),
            F.struct(F.col(dst_col).alias("src"), F.col(src_col).alias("dst")),
        )
    ).alias("e")
    sym = (
        edges.filter(~F.col(src_col).eqNullSafe(F.col(dst_col)))
        .select(both_dirs)
        .select("e.src", "e.dst")
        .unionAll(
            vertices.filter(F.col(id_col).isNotNull())
            .select(F.col(id_col).alias("src"), F.col(id_col).alias("dst"))
        )
    )
    id_type = sym.schema["src"].dataType
    star = (
        sym.repartition("src")
        .mapInArrow(
            _local_components,
            StructType([
                StructField("u", id_type),
                StructField("root", id_type),
                StructField("kind", ByteType()),
            ]),
        )
        .localCheckpoint(eager=False)
    )
    probe = star.agg(
        F.count(F.when(F.col("u").isNull(), 1)).alias("null_ends"),
        F.count(F.when(F.col("u").isNotNull() & F.col("kind").isNull(), 1)).alias("open"),
        F.count(F.when(F.col("kind") == 0, 1)).alias("non_vertices"),
    ).collect()[0]
    global LAST_CC_ROUNDS
    if probe["null_ends"] or (not probe["open"] and probe["non_vertices"]):
        raise ValueError(
            "connected_components: an edge endpoint is not in vertices ("
            + ("NULL" if probe["null_ends"] else f"{probe['non_vertices']} non-vertex ids")
            + ")"
        )
    if not probe["open"]:
        LAST_CC_ROUNDS = 1
        return star.select(F.col("u").alias("id"), F.col("root").alias("component"))

    # open components: the star rounds over the contracted edges. An
    # id is a vertex when its own partition says so (min skips the
    # NULL kinds of the partitions where it is only a dst), and a
    # component that mixes the two kinds has a contracted edge
    # between them.
    kinds = star.groupBy("u").agg(F.min("kind").alias("kind"))
    contracted = star.select("u", F.col("root").alias("v"))
    mixed = (
        contracted.join(kinds, "u")
        .join(kinds.select(F.col("u").alias("v"), F.col("kind").alias("kind_v")), "v")
        .filter(F.col("kind") != F.col("kind_v"))
        .count()
    )
    if mixed:
        raise ValueError(
            "connected_components: an edge endpoint is not in vertices "
            f"({mixed} contracted edges join a vertex to a non-vertex)"
        )
    centers, rounds = _star_rounds(contracted, max_iterations, "connected_components")
    LAST_CC_ROUNDS = 1 + rounds
    return (
        kinds.filter(F.col("kind") == 1)
        .join(centers, "u", "left")
        .select(F.col("u").alias("id"), F.coalesce("v", "u").alias("component"))
    )


def _star_rounds(e: DataFrame, max_iterations: int, name: str) -> tuple[DataFrame, int]:
    """The alternating large-star/small-star rounds (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14) over the
    undirected edges (u, v), until a round leaves the edge set
    unchanged: O(log² n) rounds regardless of graph diameter.

    large-star: every node links its strictly-larger neighbors to the
    minimum of its closed neighborhood; small-star: every node links
    its smaller neighbors (and itself) to that minimum. At the fixed
    point the edges form stars centered at each component's minimum
    id. Returns those edges, one (u, v = component min) row per id u
    that is not a minimum, and the number of rounds; raises
    RuntimeError when ``max_iterations`` rounds do not reach it."""
    e = e.filter(F.col("u") != F.col("v")).distinct().localCheckpoint(eager=False)

    def _sig(df: DataFrame) -> tuple[int, int]:
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.expr("bit_xor(xxhash64(u, v))"), F.lit(0)).alias("s"),
        ).collect()[0]
        return row["n"], row["s"]

    sig = _sig(e)
    both_uv = F.explode(
        F.array(
            F.struct(F.col("u").alias("u"), F.col("v").alias("v")),
            F.struct(F.col("v").alias("u"), F.col("u").alias("v")),
        )
    ).alias("s")
    for rounds in range(1, max_iterations + 1):
        # large-star over the symmetric neighborhood (both directions
        # from ONE explode pass instead of a union of two scans)
        sym = e.select(both_uv).select("s.u", "s.v")
        m = sym.groupBy("u").agg(F.min("v").alias("mn")).select(
            "u", F.least("u", "mn").alias("m")
        )
        large = (
            sym.filter(F.col("v") > F.col("u"))
            .join(m, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star over the directed (u > v) edges large-star emits.
        # Both output legs ((v, m) and (u, m)) come out of one explode
        # over the join, so the join + its inputs execute once per
        # round instead of once per leg.
        m2 = large.groupBy("u").agg(F.min("v").alias("m"))
        legs = F.explode(
            F.array(
                F.struct(F.col("v").alias("a"), F.col("m").alias("b")),
                F.struct(F.col("u").alias("a"), F.col("m").alias("b")),
            )
        ).alias("l")
        e = (
            large.join(m2, "u")
            .select(legs)
            .select("l.a", "l.b")
            .filter(F.col("a") != F.col("b"))
            .select(F.col("a").alias("u"), F.col("b").alias("v"))
            .distinct()
            .localCheckpoint(eager=False)  # cut per-round lineage
        )
        new_sig = _sig(e)
        if new_sig == sig:
            return e, rounds
        sig = new_sig
    raise RuntimeError(
        f"{name} did not converge in {max_iterations} rounds; raise max_iterations"
    )


def connected_components_star(
    vertices: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iterations: int = 25,
) -> DataFrame:
    """Connected components by the large-star/small-star rounds
    (:func:`_star_rounds`) over every input edge, without the local
    contraction of :func:`connected_components` (which runs the same
    rounds only over the edges its contraction leaves open): the
    suite's second leg. Returns (id, component), component = min id
    (identical output to :func:`connected_components`; equivalence
    pinned in tests).
    """
    global LAST_CC_ROUNDS
    centers, LAST_CC_ROUNDS = _star_rounds(
        edges.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v")),
        max_iterations,
        "connected_components_star",
    )
    # centers and singletons map to self
    out = vertices.select(F.col(id_col).alias("id")).join(
        centers.withColumnRenamed("u", "id"), "id", "left"
    )
    return out.select("id", F.coalesce("v", "id").alias("component"))


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.9,
) -> DataFrame:
    """All-pairs embedding cosine near-dup detection (id_a < id_b).
    Exact but quadratic — the small-N oracle twin for
    :func:`embedding_neardup_pairs_lsh`, which is the scale path."""
    a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("v_a"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("v_b"))
    pairs = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    cos = cosine_similarity(F.col("v_a"), F.col("v_b"))
    return (
        pairs.withColumn("cosine", cos)
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", fround("cosine", 6).alias("cosine"))
    )


#: row-block size for the in-bucket pairwise kernel: memory per block
#: is O(block × bucket_size) doubles, independent of bucket_size²
_BUCKET_BLOCK = 2048


def _bucket_cosine_pairs(threshold: float):
    """applyInPandas kernel: all within-bucket pairs (id_a < id_b)
    with cosine ≥ threshold. The dot/norm accumulations are strictly
    left-associated over dimensions (``acc = acc + x_d * y_d``),
    vectorized ACROSS pairs — the identical IEEE sequence as
    ``cosine_similarity`` / the DuckDB ``list_dot_product`` twin, so
    scores are bit-exact across engines. Scoring stays bucket-local:
    no global pair shuffle, no join back to the vector relation; only
    pairs over the threshold leave the bucket. Row-blocked so memory
    is O(block × g) even for hot buckets."""

    def score(pdf: pd.DataFrame) -> pd.DataFrame:
        g = len(pdf)
        if g < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []}).astype(
                {"id_a": "int64", "id_b": "int64", "cosine": "float64"}
            )
        order = np.argsort(pdf["id"].to_numpy(), kind="stable")
        ids = pdf["id"].to_numpy()[order]
        V = np.vstack([np.asarray(v, dtype=np.float64) for v in pdf["v"].to_numpy()[order]])
        dim = V.shape[1]
        nsq = np.zeros(g)
        for d in range(dim):
            nsq = nsq + V[:, d] * V[:, d]
        nrm = np.sqrt(nsq)
        out_a: list[np.ndarray] = []
        out_b: list[np.ndarray] = []
        out_c: list[np.ndarray] = []
        for lo in range(0, g - 1, _BUCKET_BLOCK):
            hi = min(lo + _BUCKET_BLOCK, g - 1)
            blk = slice(lo, hi)
            m = hi - lo
            dot = np.zeros((m, g))
            for d in range(dim):
                dot = dot + V[blk, d, None] * V[None, :, d]
            denom = nrm[blk, None] * nrm[None, :]
            ok = (nrm[blk, None] > 0) & (nrm[None, :] > 0)
            cos = dot / np.where(ok, denom, 1.0)
            hit = np.where(ok, cos, -np.inf)
            rows, cols = np.nonzero(
                (hit >= threshold) & (np.arange(g)[None, :] > np.arange(lo, hi)[:, None])
            )
            out_a.append(ids[rows + lo])
            out_b.append(ids[cols])
            out_c.append(cos[rows, cols])
        return pd.DataFrame(
            {
                "id_a": np.concatenate(out_a) if out_a else np.array([], dtype=np.int64),
                "id_b": np.concatenate(out_b) if out_b else np.array([], dtype=np.int64),
                "cosine": np.concatenate(out_c) if out_c else np.array([], dtype=np.float64),
            }
        )

    return score


def embedding_neardup_pairs_lsh(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.9,
    n_bits: int = 7,
    dim: int = 64,
    n_tables: int = 4,
) -> DataFrame:
    """LSH-bucketed embedding cosine near-dup detection — the scale
    path: candidate pairs come from a bucket equi-self-join (never a
    crossJoin), cosine is the refine residual.

    Defaults are the PRODUCTION operating point for true near-dup
    thresholds (>= 0.9): 7 bits x 4 tables, measured at 0.96 recall
    of planted cos~0.97 pairs with 3.2% of all-pairs candidate volume
    (tests/test_embedding_prod_threshold.py). At weaker thresholds
    the per-bit sign-test agreement drops (1 - theta/pi), so lower
    ``n_bits`` / raise ``n_tables`` accordingly.

    ``n_tables`` independent sign-test hash tables (distinct
    coordinate offsets, see :func:`~queryengine_spark.operators.knn.
    lsh_bucket`) are unioned to recover pairs a single table would
    miss; a pair is scored once (distinct before the vector join).
    Per-table buckets shrink the join to O(Σ bucket²); skewed buckets
    stay distributed for AQE to split. Recall < 1 by design — raise
    ``n_tables``/lower ``n_bits`` to trade cost for recall (the
    all-pairs twin measures it).
    """
    from queryengine_spark.operators.knn import lsh_bucket

    # double cast up front: float→double is exact, so the sign-test
    # comparisons are unchanged and the cosine matches
    # cosine_similarity (which casts the same way) bit-for-bit.
    # NULL / wrong-dimension vectors can't be bucketed or scored
    # (np.vstack in the kernel needs one rectangular matrix) — drop
    # them here with an EXACT length check: an over-length vector
    # would pass a >= filter and then make the vstack ragged, killing
    # the bucket's whole batch instead of just the bad row.
    e = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    ).filter(F.size(F.col("v")) == F.lit(dim))
    tables = F.array(
        *[
            F.struct(
                F.lit(t).alias("tbl"),
                lsh_bucket(F.col("v"), n_bits, dim, offset=t * n_bits).alias("bucket"),
            )
            for t in range(n_tables)
        ]
    )
    bk = (
        spread(e)
        .select("id", "v", F.explode(tables).alias("tb"))
        .select(
            "id", "v", F.col("tb.tbl").alias("tbl"), F.col("tb.bucket").alias("bucket")
        )
    )
    scored = bk.groupBy("tbl", "bucket").applyInPandas(
        _bucket_cosine_pairs(threshold), "id_a bigint, id_b bigint, cosine double"
    )
    # a pair found by several tables computes the identical cosine in
    # each (same IEEE sequence), so a plain distinct dedups it
    return scored.distinct().select(
        "id_a", "id_b", fround("cosine", 6).alias("cosine")
    )
