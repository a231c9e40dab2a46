"""Reusable relational + pipeline operators.

Each module is a thin, composable layer over DataFrame primitives chosen
for their physical plan at scale (broadcast vs shuffle, single-pass
window vs self-join, map-side combine), not just their semantics.
"""

from .pairing import pair_with_previous
from .asof import asof_join
from .sessionize import sessionize
from .topk import top_k_per_group
from .dedup import (
    capped_block_pairs,
    exact_dedup,
    lsh_candidate_pairs,
    minhash_signatures,
    minhash_signatures_rowwise,
    simhash_band_pairs,
)
from .mixture import (
    mixture_report,
    mixture_sample,
    mixture_thresholds,
    mixture_thresholds_waterfill,
)
from .packing import pack_token_budget, write_packed_shards
from .spandedup import duplicated_spans, exact_span_dedup
from .components import component_summary, connected_components

__all__ = [
    "pair_with_previous",
    "asof_join",
    "sessionize",
    "top_k_per_group",
    "exact_dedup",
    "minhash_signatures",
    "minhash_signatures_rowwise",
    "lsh_candidate_pairs",
    "capped_block_pairs",
    "simhash_band_pairs",
    "connected_components",
    "component_summary",
    "mixture_report",
    "mixture_sample",
    "mixture_thresholds",
    "mixture_thresholds_waterfill",
    "pack_token_budget",
    "write_packed_shards",
    "exact_span_dedup",
    "duplicated_spans",
]
