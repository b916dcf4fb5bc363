from .windows import per_group_argmax, yoy_growth
from .dedup import (
    connected_components,
    incremental_near_duplicates,
    dedup_by_clusters,
    exact_dedup,
    minhash_near_duplicates,
    simhash_near_duplicates,
    simhash_signatures,
    token_jaccard_pairs,
    word_shingles,
)
from .similarity import (
    brute_force_topk,
    ivf_topk,
    lsh_bucketed_topk,
    normalize_embeddings,
)
from .asof import asof_join
from .clustering import assign_clusters, lloyd_round, update_centroids
from .ranges import range_join
from .ranking import (
    distributed_ntile,
    grouped_top_fraction,
    with_global_row_number,
    with_running_total,
)
from .skew import salted_aggregate, salted_join
from .regression import trend_apply_in_pandas, trend_expr
from . import multimodal

__all__ = [
    "per_group_argmax",
    "yoy_growth",
    "connected_components",
    "incremental_near_duplicates",
    "dedup_by_clusters",
    "exact_dedup",
    "minhash_near_duplicates",
    "simhash_near_duplicates",
    "simhash_signatures",
    "token_jaccard_pairs",
    "word_shingles",
    "brute_force_topk",
    "ivf_topk",
    "lsh_bucketed_topk",
    "normalize_embeddings",
    "asof_join",
    "assign_clusters",
    "lloyd_round",
    "update_centroids",
    "range_join",
    "distributed_ntile",
    "grouped_top_fraction",
    "with_global_row_number",
    "with_running_total",
    "salted_aggregate",
    "salted_join",
    "trend_apply_in_pandas",
    "trend_expr",
    "multimodal",
]
