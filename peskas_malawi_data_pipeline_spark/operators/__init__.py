from . import (aggregates, dedup, joins, layout, multimodal, packing,
               ranking, relational, sampling, similarity, structural,
               validation)

__all__ = [
    "aggregates", "dedup", "joins", "layout", "multimodal",
    "packing", "ranking", "relational", "sampling", "similarity",
    "structural", "validation",
]
