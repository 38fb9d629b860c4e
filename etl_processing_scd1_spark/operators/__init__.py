from .scd1 import Scd1Result, scd1_changes, scd1_merge
from .facts import append_dedup
from .meta import upsert_watermark

__all__ = [
    "Scd1Result",
    "scd1_changes",
    "scd1_merge",
    "append_dedup",
    "upsert_watermark",
]
