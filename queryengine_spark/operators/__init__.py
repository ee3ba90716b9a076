from queryengine_spark.operators.fuzzy_join import (
    candidates_cross,
    candidates_inverted,
    fuzzy_match,
    prepare_terms,
    refine_candidates,
    select_best,
    topk_candidates,
)
from queryengine_spark.operators.topk import grouped_topk

__all__ = [
    "candidates_cross",
    "candidates_inverted",
    "fuzzy_match",
    "grouped_topk",
    "prepare_terms",
    "refine_candidates",
    "select_best",
    "topk_candidates",
]
