"""phphll_spark — a PySpark-native distributed sketch / approximate
aggregation library with the capabilities of shabbyrobe/phphll, built
Spark-first (DataFrame + vectorized Arrow/pandas UDFs + mergeable
partial aggregation). See SURVEY.md for the blueprint.
"""

from . import _worker  # noqa: F401  (guards per-task zip re-reads in Spark workers)
from .kernel import (
    HLL_P_DEFAULT,
    MURMUR_SEED,
    empty_registers,
    estimate,
    hash_idx_rho,
    merge_registers,
    murmur64a,
    relative_error_bound,
)
from .codec import (
    InvalidSketchError,
    deserialize,
    info,
    pfadd_blob,
    promote,
    serialize,
)
from .hll import HLL, element_bytes, hll_count, hll_merge, php_string

__all__ = [
    "HLL",
    "HLL_P_DEFAULT",
    "MURMUR_SEED",
    "InvalidSketchError",
    "element_bytes",
    "empty_registers",
    "estimate",
    "hash_idx_rho",
    "hll_count",
    "hll_merge",
    "info",
    "merge_registers",
    "murmur64a",
    "pfadd_blob",
    "php_string",
    "promote",
    "relative_error_bound",
    "serialize",
    "deserialize",
]

__version__ = "0.1.0"
