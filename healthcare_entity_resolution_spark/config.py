"""Pipeline configuration: the values a caller sets.

``min_edge_weight`` and ``max_cluster_size`` carry the reference defaults
(its ``config.py:17-18``).  The scale knobs (hot-block salting,
MinHash/LSH banding, the PageRank iteration cap) are new — the reference
is single-node and has none.  Every other threshold, weight and map is a
constant next to its one reader (``classify``, ``scoring``, ``blocking``,
``components``, ``network``, ``canonicalize``, ``graph``).
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class ResolutionConfig:
    # --- graph pruning (reference config.py:17-18) ---
    min_edge_weight: float = 0.40
    max_cluster_size: int = 100

    # --- scale knobs (new; north_rule: hot-block salting, LSH banding) ---
    # a block with more members than this is hot: the batch path salts it
    # (blocking.candidate_pairs), a micro-batch drops it (stream.hot_blocks)
    max_block_size: int = 200
    minhash_permutations: int = 64
    lsh_bands: int = 16                # 16 bands x 4 rows
    pagerank_max_iter: int = 100


DEFAULT_CONFIG = ResolutionConfig()
