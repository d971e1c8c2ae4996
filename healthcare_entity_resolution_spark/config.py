"""Pipeline configuration.

Thresholds and weights carry the reference defaults
(/root/reference/src/physician_resolution/config.py:15-18 and
matching/similarity.py:266-291) so labeled-pair decisions reproduce at the
same blocking keys.  Scale knobs (hot-block salting, MinHash/LSH banding,
iteration caps) are new — the reference is single-node and has none.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class ResolutionConfig:
    # --- classification thresholds (reference config.py:15-18) ---
    match_threshold: float = 0.85
    non_match_threshold: float = 0.30
    min_edge_weight: float = 0.40
    max_cluster_size: int = 100
    prune_id_conflicts: bool = True
    use_soundex_blocking: bool = True
    include_uncertain_matches: bool = False

    # --- overall-score weights (reference similarity.py:275-291) ---
    weight_name: float = 0.50
    weight_location: float = 0.30
    weight_specialty: float = 0.20
    authoritative_match_score: float = 0.95  # NPI / content-sha match

    # --- scale knobs (new; north_rule: hot-block salting, LSH banding) ---
    # a block with more members than this is hot: the batch path salts it
    # (blocking.candidate_pairs), a micro-batch drops it (stream.hot_blocks)
    max_block_size: int = 200
    minhash_permutations: int = 64
    lsh_bands: int = 16                # 16 bands x 4 rows
    minhash_shingle_k: int = 5         # char-shingle width for MinHash tokens
    shingle_size: int = 3
    cc_max_iterations: int = 50
    pagerank_alpha: float = 0.85
    pagerank_max_iter: int = 100
    pagerank_tol: float = 1.0e-6

    # --- source survivorship priority (reference canonicalization/merge.py) ---
    source_priority: dict = field(
        default_factory=lambda: {"cms": 4, "license": 3, "hospital": 2, "publication": 1}
    )
    source_reliability: dict = field(
        default_factory=lambda: {"cms": 1.0, "license": 0.9, "hospital": 0.8, "publication": 0.6}
    )


DEFAULT_CONFIG = ResolutionConfig()
