#!/usr/bin/env python
"""Regenerate docs/PLANS.md: the audited physical plans of
representative queries (the `.explain` evidence behind docs/SCALE.md
and tests/test_plans.py). Run after any plan-shaping change."""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from queryengine_spark.queries import all_queries
from queryengine_spark.session import get_spark

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: (query, what the reader should verify in the plan)
AUDITED = [
    ("q3_shipping_priority", "dimension side broadcast; filters pushed to every FileScan"),
    ("q6_forecast_revenue", "ALL predicates in PushedFilters; 2-column ReadSchema"),
    ("window_topk_orders_per_customer", "WindowGroupLimit (partial per-partition top-k before the shuffle)"),
    ("fuzzy_topk_heuristic", "term-level prune windows + id-level WindowGroupLimit; no cartesian"),
    ("dedup_minhash_suite", "banded bucket equi-self-join over checkpointed signatures; no cartesian"),
    ("dedup_decontaminate_suite", "Arrow bloom probe (ArrowEvalPython) + broadcast residual anti join"),
    ("events_sessionize", "composite: window-function leg + single SessionWindow hash aggregate (r6 fold)"),
    ("pipeline_weighted_mix", "zero Exchange operators — pure stateless hash filter"),
    ("curation_span_scrub", "broadcast frequent-gram join + LeftAnti cover removal; no cartesian"),
    ("dedup_semantic", "cell-local FlatMapGroupsInPandas pair kernel; no global pair join"),
    ("text_heavy_hitters", "MapInPandas sketch pass + broadcast candidate semi-join"),
    ("knn_pq_suite", "cell equi-join over 16-byte codes; WindowGroupLimit shortlist; vector fetch only post-shortlist"),
    ("graph_triangles", "degree-oriented equi-joins only; no cartesian / nested loop anywhere in the wedge build"),
    ("knn_mmr", "per-step WindowGroupLimit argmax; pair kernel confined to the checkpointed shortlist"),
    ("pipeline_dsir_sample", "bounded weight table broadcast into the feature stream; global top-N is TakeOrderedAndProject"),
    ("etl_apply_cdc", "single key Exchange; latest-seq reduction as WindowGroupLimit, not sort+filter"),
    ("pipeline_sequence_packing", "window cumsum + bounded explode + partial-agg groupBy; ZERO joins"),
    ("dedup_cross_source_overlap", "trigram inverted self-join after broadcast hot-set anti-join; per-source counts broadcast"),
    ("multimodal_image_decode", "two chained MapInArrow; only exchange is the deliberate round-robin spread"),
    ("text_lm_surprise", "vocab count tables BroadcastHashJoin back onto the pair stream; final per-doc partial agg"),
    ("dedup_jaccard_prefix", "prefix equi-self-join + length filter, then exact verify equi-joins; no cartesian"),
    ("multimodal_media_suite", "r7 fold: four media-transform legs unioned, each a MapInArrow chain; only exchanges are the deliberate round-robin spreads + the union"),
    ("knn_filtered", "two pre-filter legs: (cell,key) and (cell,bin) probe equi-joins; range window check BEFORE cosine; no cartesian"),
    ("knn_sq8", "cell equi-join over 8-bit codes; integer encode/recon as pure Column transforms; WindowGroupLimit top-k"),
    ("pipeline_pack_sequences", "two-phase global prefix sum: range Exchange + per-partition window + broadcast offsets join; NO SinglePartition window"),
    ("source_footer_profile", "footer-only MapInPandas over the (table,column) request relation; no table scan of the profiled data"),
    ("profile_source_drift", "one (source,bin) partial-agg shuffle; lattice/ref/total joins all on aggregate-sized relations"),
    ("text_chunk_rag", "split/slice/explode pure JVM; no UDF, no join"),
    ("knn_ann_suite", "three-leg union: brute ground truth (deliberate BNLJ) + bucket/cell equi-joins for LSH/IVF"),
    ("text_pii_pseudonymize", "pure-Column regex fold; zero Exchange"),
    ("pipeline_cc_ingest", "r10 composite: ONE FlatMapGroupsInPandas shard assembly (localCheckpointed fan-in), zero-shuffle replay/extract MapInArrow, id-keyed minhash joins, range-Exchange prefix-sum packing; no cartesian"),
    ("source_pdf_text", "r11: one deliberate spread Exchange of the narrow id relation, then two chained MapInArrow (synthesize, xref-walk + extract); zero joins"),
    ("source_warc_wat", "r11: same fan-out-then-map shape — spread Exchange + two MapInArrow; the full-record-set WAT production stays row-linear"),
    ("source_avro_records", "r11: spread Exchange + two chained MapInArrow (synthesize, container-walk + record fan-out); zero joins"),
    ("pipeline_hard_negatives", "r11: broadcast anchors over the corpus scan; threshold split feeds WindowGroupLimit top-k + a broadcast positive-count join; the cross join is the documented bounded-anchor eval twin"),
    ("source_sqlite_rows", "r11: spread Exchange + two chained MapInArrow (sqlite3 synthesis, from-scratch page walk); zero joins"),
    ("source_tfrecord_examples", "r11: spread Exchange + two chained MapInArrow (framed synthesis, CRC32C + wire-format walk); zero joins"),
]


def main() -> None:
    spark = get_spark("plan-dump")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.debug.maxToStringFields", "200")
    queries = all_queries()
    out = [
        "# PLANS — audited physical plans (generated by scripts/dump_plans.py)",
        "",
        f"Source: `{SF}`. These are the `executedPlan` trees the scale",
        "arguments in docs/SCALE.md rest on; tests/test_plans.py pins the",
        "load-bearing shapes so refactors cannot silently regress them.",
        "",
    ]
    for name, check in AUDITED:
        df = queries[name](spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        # strip exprIds (#123L) so regeneration diffs stay readable
        plan = re.sub(r"#\d+L?", "#_", plan)
        lines = plan.splitlines()
        shown = lines[:40]
        out.append(f"## {name}")
        out.append("")
        out.append(f"**Verify:** {check}")
        out.append("")
        out.append("```")
        out.extend(ln.rstrip() for ln in shown)
        if len(lines) > 40:
            out.append(f"... ({len(lines) - 40} more lines)")
        out.append("```")
        out.append("")
    with open(os.path.join(os.path.dirname(__file__), "..", "docs", "PLANS.md"), "w") as f:
        f.write("\n".join(out) + "\n")
    print(f"wrote docs/PLANS.md ({len(AUDITED)} plans)")


if __name__ == "__main__":
    main()
