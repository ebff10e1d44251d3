"""Reusable scalar/aggregate expression helpers (SURVEY.md §2.8 surface).

These are the cross-cutting expression idioms the engine standardizes on:
deterministic aggregation (exact decimal sums) and the nanosecond time
constants for integer event-time math.
"""

from .layout import interleave_bits_16, write_zordered, zorder_key_2d
from .merge import merge_upsert
from .skew import key_skew_profile, salted_join, two_stage_agg
from .skyline import skyline_2d
from .scalars import (
    HOUR_NS,
    MICROS_PER_HOUR,
    exact_sum,
)

__all__ = [
    "skyline_2d",
    "interleave_bits_16",
    "write_zordered",
    "zorder_key_2d",
    "HOUR_NS",
    "MICROS_PER_HOUR",
    "exact_sum",
    "merge_upsert",
    "key_skew_profile",
    "salted_join",
    "two_stage_agg",
]
