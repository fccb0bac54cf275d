from . import (aggregates, dedup, joins, layout, multimodal, ranking,
               relational, similarity, structural, validation)

__all__ = [
    "aggregates", "dedup", "joins", "layout", "multimodal", "ranking",
    "relational", "similarity", "structural", "validation",
]
