"""Reusable, generic operators over arbitrary DataFrames.

This is the user-facing API surface mirroring the reference library's
utility functions (SURVEY.md §2), re-expressed Spark-first. The query
registry (utils_spark.queries) wires these onto the driver star schema;
users point them at their own DataFrames.
"""

from utils_spark.operators.sampling import stratified_sample_exact, random_subset  # noqa: F401
from utils_spark.operators.stats import (  # noqa: F401
    bh_adjust,
    mad_outlier_flags,
    pairwise_ks_test,
    zscore_per_group,
)
from utils_spark.operators.qc import per_entity_qc, module_score  # noqa: F401
from utils_spark.operators.relational import (  # noqa: F401
    check_functional_dependency,
    crosstab_proportions,
    freq_ordered_levels,
    pivot_membership,
    with_unique_names,
)
from utils_spark.operators.dedup import (  # noqa: F401
    duplicate_clusters,
    exact_dedup,
    fingerprint_duplicates,
    lsh_verified_pairs,
    minhash_lsh_candidates,
)
from utils_spark.operators.similarity import cosine_topk  # noqa: F401
