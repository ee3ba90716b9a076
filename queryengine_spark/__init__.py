"""queryengine_spark — a PySpark-native analytics engine.

Re-implements, Spark-first, the capabilities of the reference engine
rickbeeloo/QueryEngine ("heurFuzz", a filter-and-refine top-k fuzzy
string-matching join — see /root/repo/SURVEY.md), and extends it with
the relational + LLM-data-pipeline operator surface required by the
driver contract (BASELINE.json): scans/sinks, projections/filters,
joins, aggregations, window functions, set ops, sorts/top-k,
deduplication (exact / MinHash-LSH / SimHash / n-gram Jaccard /
embedding), similarity search (brute-force + LSH-bucketed ANN),
text analysis, multimodal binary-column plumbing and structured
streaming.

Design principles (100 TB first):
- Declarative DataFrame/SQL plans so Catalyst handles pushdown,
  pruning, join selection, AQE skew handling.
- JVM-side expressions everywhere; the Python hot path of the match
  is the Arrow-batched partial_ratio pandas UDF (no built-in
  equivalent), and every per-row media/source decoder crosses into
  Python through the one ``plans.map_rows`` helper.
- No driver-side collect loops in any operator.
"""

from queryengine_spark.config import FuzzyConfig
from queryengine_spark.session import get_spark

__all__ = ["FuzzyConfig", "get_spark"]
__version__ = "0.1.0"
