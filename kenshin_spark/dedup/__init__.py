from kenshin_spark.dedup.cluster import (
    canonical_survivors,
    connected_components,
    duplicate_clusters,
    incremental_component_deltas,
    incremental_components,
)
from kenshin_spark.dedup.exact import exact_dedup
from kenshin_spark.dedup.minhash import minhash_lsh_pairs
from kenshin_spark.dedup.ngram import ngram_jaccard_pairs
from kenshin_spark.dedup.simhash import simhash_fingerprints
from kenshin_spark.dedup.embedding import embedding_neardup_pairs

__all__ = [
    "canonical_survivors",
    "connected_components",
    "duplicate_clusters",
    "incremental_component_deltas",
    "incremental_components",
    "exact_dedup",
    "minhash_lsh_pairs",
    "ngram_jaccard_pairs",
    "simhash_fingerprints",
    "embedding_neardup_pairs",
]
