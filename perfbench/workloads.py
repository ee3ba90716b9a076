"""The benchmark's workloads.

Each workload makes one input set per pass (a pure function of
``<workload>:<seed>:<pass>``), writes it to files, runs one pass of
the engine over those files, and checks the output. The traced pass
runs the same ``run`` with the workload's ``layers`` wrapped: each
listed engine function becomes a span whose output is pinned, so the
next span does not recompute it.
"""

from __future__ import annotations

import contextlib
import dataclasses
import io
import re
import statistics
import time

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen
import oracle
from queryengine_spark import cli
from queryengine_spark.config import FuzzyConfig
from queryengine_spark.functions.similarity import partial_ratio
from queryengine_spark.operators import dedup, fuzzy_join
from queryengine_spark.sources.text import read_lines

TOP_K = 10
CUTOFF = 60
BUFFER = 500
CONFIG = FuzzyConfig(top_k=TOP_K, score_cutoff=CUTOFF, buffer_size=BUFFER)
#: query rows per pass re-checked against the single-node recomputation
ORACLE_SAMPLE = 8
#: (q, r) pairs timed in-process for the kernel cost
KERNEL_SAMPLE = 600


def _rows(df) -> int:
    return df.count()


# (module, function, span, {metric: measure of the result}): the engine
# functions a traced pass wraps, looked up as module globals by their
# callers (fuzzy_match, cli.run, minhash_lsh_star_edges)
MATCH_LAYERS = (
    (fuzzy_join, "prepare_terms", "fuzzy_join.prepare", {"fuzzy_join.prepare_rows": _rows}),
    (fuzzy_join, "topk_candidates_inverted", "fuzzy_join.topk", {"fuzzy_join.topk_rows": _rows}),
    (fuzzy_join, "refine_candidates", "similarity.refine", {"similarity.refine_pairs": _rows}),
    (fuzzy_join, "select_best", "fuzzy_join.select_best", {"fuzzy_join.matched": _rows}),
)
CLI_LAYERS = (
    (cli, "read_lines", "sources.read_lines", {"sources.read_lines_rows": _rows}),
    (cli, "to_local_tsv", "sinks.tsv", {"sinks.tsv_bytes": lambda tsv: len(tsv.encode())}),
)
DEDUP_LAYERS = (
    (dedup, "minhash_signatures", "dedup.signatures", {}),
    (dedup, "minhash_lsh_star_edges", "dedup.edges", {"dedup.edges": _rows}),
    (dedup, "connected_components", "dedup.cc",
     {"dedup.cc_rounds": lambda _: dedup.LAST_CC_ROUNDS}),
)


def _write_parquet(path: str, **columns) -> None:
    pq.write_table(pa.table(columns), path)


class Pass:
    """One pass's inputs, timings and check results."""

    def __init__(self, inputs, digest: str):
        self.inputs = inputs
        self.digest = digest
        self.wall = self.cpu = self.start_s = 0.0
        self.errors: list[str] = []
        self.recall = self.precision = 0.0


class MatchWorkload:
    """Shared by the two fuzzy-match workloads: output is one match per
    query row, in query-row order."""

    name: str
    sizes: gen.MatchSizes
    expected_dedup_terms: int
    id_col: str  # the id column of the raw inputs
    layers: tuple  # the wrapped engine functions of a traced pass
    unused: tuple  # prefixes of the per-layer metrics the workload has no layer for

    def generate(self, key: str, warmup: bool = False) -> Pass:
        sizes = self.sizes
        if warmup:
            # a quarter of the queries; the references keep their size so
            # the engine picks the same candidate strategy
            sizes = dataclasses.replace(
                sizes, n_queries=sizes.n_queries // 4, n_query_terms=sizes.n_query_terms // 4)
        inputs = gen.gen_match(key, sizes)
        return Pass(inputs, gen.digest(inputs.queries, inputs.refs))

    def rows(self, p: Pass) -> int:
        return len(p.inputs.queries)

    def check(self, p: Pass, rows: list) -> None:
        """``rows`` holds one (query, match) per output row in query-id
        order: row i must echo query row i, so every query row appears
        exactly once."""
        inp = p.inputs
        n = len(inp.queries)
        if len(rows) != n or [r and r[0] for r in rows] != inp.queries:
            p.errors.append("output rows are not the query rows, each exactly once")
            return
        matches = [m for _, m in rows]
        sample = [i * n // ORACLE_SAMPLE for i in range(ORACLE_SAMPLE)]
        p.errors += oracle.check_matches(
            inp.queries, matches, inp.ref_term_set, sample, oracle.RefIndex(inp.refs),
            TOP_K, CUTOFF)
        p.recall, p.precision = oracle.match_quality(matches, inp.planted)

    def candidate_path(self, spark, work: str) -> int:
        """Which candidate path the engine's probe picks for these
        inputs: 1 = distinct-term join, 0 = id-level join. Read from the
        analyzed plan of ``fuzzy_match`` (building the plan runs the
        probe; nothing else executes)."""
        q, r = self.raw_inputs(spark, work)
        plan = fuzzy_join.fuzzy_match(
            q, r, "term", "term", self.id_col, self.id_col, CONFIG
        )._jdf.queryExecution().analyzed().toString()
        if re.search(r"q_key#\d+ = q_term#\d+", plan):
            return 1
        if re.search(r"q_key#\d+L? = q_id#\d+L?", plan):
            return 0
        return -1

    def traced_extras(self, spark, tr) -> dict:
        """Measurements outside the traced pass, on its pinned layer
        outputs: the candidate space, refine redundancy and the
        in-process kernel cost."""
        m: dict = {}
        (topk,) = tr.outputs["fuzzy_join.topk"]
        q, r = sorted(tr.outputs["fuzzy_join.prepare"], key=lambda df: "r_term" in df.columns)
        with tr.span("aux.candidates"):
            # id-level candidate pairs = Σ over distinct-term pairs that
            # share a bigram of (query rows × reference rows)
            qt = q.groupBy("q_term").agg(F.count(F.lit(1)).alias("qn"))
            rt = r.groupBy("r_term").agg(F.count(F.lit(1)).alias("rn"))
            qp = fuzzy_join.prepare_terms(
                qt.withColumn("tid", F.monotonically_increasing_id()), "q_term", "tid", "q")
            rp = fuzzy_join.prepare_terms(
                rt.withColumn("tid", F.monotonically_increasing_id()), "r_term", "tid", "r")
            pairs = fuzzy_join.candidates_inverted(qp, rp, dedup_terms=False)
            m["fuzzy_join.candidate_pairs"] = int(
                pairs.join(qt, "q_term").join(rt, "r_term")
                .agg(F.sum(F.col("qn") * F.col("rn")).alias("n")).collect()[0]["n"])
        with tr.span("aux.refine_sample"):
            m["similarity.refine_distinct_ratio"] = (
                topk.select(F.lower("q_term"), F.lower("r_term")).distinct().count()
                / max(topk.count(), 1))
            sample = [
                (row["q_term"].lower(), row["r_term"].lower())
                for row in topk.orderBy("q_id", "r_id").limit(KERNEL_SAMPLE).collect()
            ]
        with tr.span("aux.kernel"):
            reps = []
            for _ in range(3):
                t0 = time.perf_counter()
                for a, b in sample:
                    partial_ratio(a, b)
                reps.append((time.perf_counter() - t0) / len(sample))
            m["similarity.kernel_us_per_pair"] = statistics.median(reps) * 1e6
        return m


class MatchFilter(MatchWorkload):
    """Distinct dirty queries against distinct reference terms:
    candidate generation and top-K pruning carry the pass."""

    name = "match_filter"
    sizes = gen.MatchSizes(n_queries=100, n_query_terms=100, n_refs=12_000, n_ref_terms=12_000)
    expected_dedup_terms = 0
    id_col = "id"
    layers = MATCH_LAYERS
    unused = ("sources.", "sinks.", "dedup.")
    pass_s = 5.0  # typical warm pass on 4 cores; sets the pass count

    def write(self, p: Pass, work: str) -> None:
        inp = p.inputs
        _write_parquet(f"{work}/q.parquet", id=list(range(len(inp.queries))), term=inp.queries)
        _write_parquet(f"{work}/r.parquet", id=list(range(len(inp.refs))), term=inp.refs)

    def raw_inputs(self, spark, work: str):
        return spark.read.parquet(f"{work}/q.parquet"), spark.read.parquet(f"{work}/r.parquet")

    def run(self, spark, work: str):
        q, r = self.raw_inputs(spark, work)
        res = fuzzy_join.fuzzy_match(q, r, "term", "term", "id", "id", CONFIG).persist()
        res.write.format("noop").mode("overwrite").save()

        def output() -> list:
            rows = res.select("q_id", "query", "match").collect()
            res.unpersist()
            return _by_id(rows, "q_id", ("query", "match"))
        return output


class MatchRefine(MatchWorkload):
    """Zipf-repeated query and reference rows, end to end through the
    command-line driver: the distinct-term candidate path keeps the
    filter small, so refine scoring carries the pass."""

    name = "match_refine"
    sizes = gen.MatchSizes(n_queries=800, n_query_terms=64, n_refs=12_000, n_ref_terms=600,
                           zipf_s=0.7)
    expected_dedup_terms = 1
    id_col = "line_id"
    layers = MATCH_LAYERS + CLI_LAYERS
    unused = ("dedup.",)
    pass_s = 9.0  # typical warm pass on 4 cores; sets the pass count

    def write(self, p: Pass, work: str) -> None:
        for name, lines in (("q.txt", p.inputs.queries), ("r.txt", p.inputs.refs)):
            with open(f"{work}/{name}", "w") as f:
                f.write("\n".join(lines) + "\n")

    def raw_inputs(self, spark, work: str):
        return read_lines(spark, f"{work}/q.txt"), read_lines(spark, f"{work}/r.txt")

    def run(self, spark, work: str):
        with contextlib.redirect_stdout(io.StringIO()):
            cli.run(f"{work}/q.txt", f"{work}/r.txt", TOP_K, CUTOFF, BUFFER, f"{work}/out.tsv")

        def output() -> list:
            spark.catalog.clearCache()
            with open(f"{work}/out.tsv") as f:
                return self._parse_tsv(f.read())
        return output

    def _parse_tsv(self, text: str) -> list:
        """(query, match) per TSV row; the sink orders rows by query id."""
        lines = text.split("\n")
        if lines[0] != "query\tmatch" or lines[-1] != "":
            return []
        return [tuple(line.split("\t")) for line in lines[1:-1]]


class DedupComponents:
    """Near-duplicate chains: MinHash-LSH star edges, then connected
    components by iterative label propagation."""

    name = "dedup_components"
    sizes = gen.DedupSizes(n_chains=320, chain_len=16, n_singletons=800)
    expected_dedup_terms = None
    layers = DEDUP_LAYERS
    unused = ("sources.", "fuzzy_join.", "similarity.", "sinks.")
    pass_s = 7.0  # typical warm pass on 4 cores; sets the pass count
    # 6 bands of 4 rows: consecutive chain members (Jaccard ~0.8) share a
    # band with probability ~0.97, unrelated documents (~0.02) almost never
    lsh = {"n_hashes": 24, "band_size": 4}

    def generate(self, key: str, warmup: bool = False) -> Pass:
        sizes = self.sizes
        if warmup:
            # twice a timed pass: pass times keep falling while the JIT
            # compiles, so the warm-up must outweigh a pass
            sizes = dataclasses.replace(
                sizes, n_chains=sizes.n_chains * 2, n_singletons=sizes.n_singletons * 2)
        inputs = gen.gen_dedup(key, sizes)
        return Pass(inputs, gen.digest(inputs.docs))

    def rows(self, p: Pass) -> int:
        return len(p.inputs.docs)

    def write(self, p: Pass, work: str) -> None:
        _write_parquet(f"{work}/docs.parquet", id=list(range(len(p.inputs.docs))),
                       text=p.inputs.docs)

    def _docs(self, spark, work: str):
        return spark.read.parquet(f"{work}/docs.parquet")

    def run(self, spark, work: str):
        docs = self._docs(spark, work)
        edges = dedup.minhash_lsh_star_edges(docs, "id", "text", **self.lsh).persist()
        labels = dedup.connected_components(docs.select("id"), edges).collect()

        def output():
            pairs = [(r["id_a"], r["id_b"]) for r in edges.collect()]
            edges.unpersist()
            return _by_id(labels, "id", "component"), pairs
        return output

    def check(self, p: Pass, out) -> None:
        labels, edges = out
        n = len(p.inputs.docs)
        if len(labels) != n or None in labels:
            p.errors.append(f"{len(labels)} labels for {n} documents")
            return
        p.errors += oracle.check_labels(labels, edges)
        p.recall, p.precision = oracle.cluster_quality(labels, p.inputs.cluster)

    def candidate_path(self, spark, work: str) -> None:
        return None

    def traced_extras(self, spark, tr) -> dict:
        return {}


def _by_id(rows, id_col: str, value_cols) -> list:
    """Values in id order; None where an id is missing, and a length
    mismatch when ids repeat or fall outside 0..n-1."""
    n = len(rows)
    out = [None] * n
    for row in rows:
        i = row[id_col]
        if not 0 <= i < n or out[i] is not None:
            return [None] * (n + 1)
        out[i] = tuple(row[c] for c in value_cols) if isinstance(value_cols, tuple) \
            else row[value_cols]
    return out


WORKLOADS = {w.name: w for w in (MatchFilter(), MatchRefine(), DedupComponents())}
