from .sizing import num_hashes, num_bits
from .core import (
    build_bloom_filters,
    probe_bloom_filters,
    fp_report,
)

__all__ = [
    "num_hashes",
    "num_bits",
    "build_bloom_filters",
    "probe_bloom_filters",
    "fp_report",
]
