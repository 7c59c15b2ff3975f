from ..fold import ObjectFamily
from .bloom import (
    BloomFamily,
    bloom_contains,
    bloom_might_contain,
    bloom_partial_sketches,
    bloom_sketch,
    make_bloom_merge_agg,
    optimal_params,
)
from .kll import (
    KLL,
    kll_partial_sketches,
    kll_quantile,
    kll_sketch,
    make_kll_merge_agg,
)
from .tdigest import (
    TDigest,
    make_tdigest_merge_agg,
    tdigest_partial_sketches,
    tdigest_quantile,
    tdigest_sketch,
)
from .cms import (
    CMSFamily,
    cms_partial_sketches,
    cms_point_estimate,
    cms_query,
    cms_sketch,
    cms_total,
    make_cms_merge_agg,
)
from .theta import (
    InvalidThetaError,
    ThetaFamily,
    make_theta_merge_agg,
    theta_a_not_b,
    theta_estimate,
    theta_intersect,
    theta_intersection_report,
    theta_is_exact,
    theta_partial_sketches,
    theta_retained,
    theta_sketch,
    theta_union_pair,
)
from .heavyhitters import (
    MGFamily,
    make_mg_merge_agg,
    mg_entries,
    mg_partial_sketches,
    mg_point_estimate,
    mg_sketch,
    mg_total,
)


def register_sketch_sql_functions(spark) -> None:
    """Expose the non-HLL sketch family to Spark SQL, mirroring
    functions.sketch.register_sql_functions for HLL:

    aggregates ``cms_merge_agg`` / ``bloom_merge_agg`` / ``tdigest_merge_agg``
    / ``kll_merge_agg`` (re-merge checkpointed sketch columns in SQL) and
    scalars ``cms_point_estimate`` / ``bloom_might_contain`` /
    ``tdigest_quantile`` / ``kll_quantile``.
    """
    spark.udf.register("cms_merge_agg", make_cms_merge_agg())
    spark.udf.register("bloom_merge_agg", make_bloom_merge_agg())
    spark.udf.register("tdigest_merge_agg", make_tdigest_merge_agg())
    spark.udf.register("kll_merge_agg", make_kll_merge_agg())
    spark.udf.register("mg_merge_agg", make_mg_merge_agg())
    spark.udf.register("cms_point_estimate", cms_point_estimate)
    spark.udf.register("bloom_might_contain", bloom_might_contain)
    spark.udf.register("tdigest_quantile", tdigest_quantile)
    spark.udf.register("kll_quantile", kll_quantile)
    spark.udf.register("mg_point_estimate", mg_point_estimate)
    spark.udf.register("theta_merge_agg", make_theta_merge_agg())
    spark.udf.register("theta_estimate", theta_estimate)
    spark.udf.register("theta_intersect", theta_intersect)
    spark.udf.register("theta_a_not_b", theta_a_not_b)
    spark.udf.register("theta_union", theta_union_pair)

__all__ = [
    "BloomFamily",
    "CMSFamily",
    "KLL",
    "MGFamily",
    "ObjectFamily",
    "TDigest",
    "ThetaFamily",
    "kll_partial_sketches",
    "kll_quantile",
    "kll_sketch",
    "make_kll_merge_agg",
    "bloom_contains",
    "make_tdigest_merge_agg",
    "tdigest_partial_sketches",
    "tdigest_quantile",
    "tdigest_sketch",
    "bloom_might_contain",
    "bloom_partial_sketches",
    "bloom_sketch",
    "cms_partial_sketches",
    "cms_point_estimate",
    "cms_query",
    "cms_sketch",
    "cms_total",
    "make_bloom_merge_agg",
    "make_cms_merge_agg",
    "make_mg_merge_agg",
    "mg_entries",
    "mg_partial_sketches",
    "mg_point_estimate",
    "mg_sketch",
    "mg_total",
    "optimal_params",
    "register_sketch_sql_functions",
    "make_theta_merge_agg",
    "theta_a_not_b",
    "theta_estimate",
    "theta_intersect",
    "theta_intersection_report",
    "theta_is_exact",
    "theta_partial_sketches",
    "theta_retained",
    "theta_sketch",
    "theta_union_pair",
]
