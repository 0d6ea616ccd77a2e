"""End-to-end pipeline reproductions (SURVEY §3): the reference's main
entry-point pipelines composed as single lazy DataFrame chains, oracled
step-for-step in one SQL statement. Catalyst fuses the whole chain; the
only shuffles are the stratified-sample window and the final aggregate —
exactly the boundaries SURVEY §3 E1 predicts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from utils_spark.io import load_table
from utils_spark.operators.qc import log_normalize
from utils_spark.operators.sampling import stratified_sample_exact
from utils_spark.operators.stats import mad_outlier_flags
from utils_spark.registry import register


@register(
    "atlas_loader_pipeline",
    oracle="""
    WITH filtered AS (
      SELECT c_custkey, c_nationkey, c_mktsegment, c_acctbal
      FROM customer WHERE c_acctbal > 0
    ),
    mapped AS (
      SELECT f.*, n.n_name
      FROM filtered f LEFT JOIN nation n ON f.c_nationkey = n.n_nationkey
    ),
    keyed AS (
      SELECT c_custkey, c_acctbal, concat(n_name, '_', c_mktsegment) AS group_key
      FROM mapped WHERE n_name IS NOT NULL
    ),
    sampled AS (
      SELECT c_custkey, c_acctbal, group_key FROM (
        SELECT *, row_number() OVER (
                 PARTITION BY group_key
                 ORDER BY md5(concat(CAST(c_custkey AS VARCHAR), ':', '290'))) AS rn
        FROM keyed
      ) WHERE rn <= 20
    ),
    sf AS (
      SELECT group_key, SUM(c_acctbal) AS g_total FROM sampled GROUP BY group_key
    ),
    m AS (SELECT AVG(g_total) AS mean_total FROM sf)
    SELECT s.group_key,
           CAST(COUNT(*) AS BIGINT) AS n_sampled,
           ROUND(SUM(LOG2(s.c_acctbal / (f.g_total / (SELECT mean_total FROM m)) + 1)), 4)
             AS lognorm_sum
    FROM sampled s JOIN sf f ON s.group_key = f.group_key
    GROUP BY s.group_key
    """,
    tags=("pipeline", "E1", "bench"),
)
def atlas_loader_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference-atlas loader pipeline E1 (R/reference.R:66-166
    BraunBrainData) end-to-end on the star schema: positive-total filter
    (→ reference.R:88-90) → broadcast map join (81-84) → NA-drop on label
    (136-139) → united group key (146-148) → seeded stratified sample,
    exactly-N per group, seed 290 (150-155) → log-normalization with
    mean-scaled size factors (161) → per-group checksum.

    One lazy chain; shuffles only at the sample window and final agg."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 0)
    n = load_table(spark, sf_dir, "nation")
    mapped = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey, "left")
    keyed = mapped.filter(F.col("n_name").isNotNull()).select(
        "c_custkey",
        "c_acctbal",
        F.concat_ws("_", "n_name", "c_mktsegment").alias("group_key"),
    )
    sampled = stratified_sample_exact(keyed, "group_key", "c_custkey", 20, seed=290)
    lognorm = log_normalize(sampled, "group_key", "c_acctbal", out_col="ln")
    return lognorm.groupBy("group_key").agg(
        F.count("*").alias("n_sampled"), F.round(F.sum("ln"), 4).alias("lognorm_sum")
    )


@register(
    "qc_filter_pipeline",
    oracle="""
    WITH metrics AS (
      SELECT o_custkey AS entity, CAST(COUNT(*) AS BIGINT) AS n_rows,
             SUM(o_totalprice) AS total,
             100.0 * COALESCE(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice END), 0)
               / SUM(o_totalprice) AS urgent_pct
      FROM orders GROUP BY o_custkey
    ),
    med AS (SELECT median(total) AS med_total FROM metrics),
    mad AS (
      SELECT median(ABS(m.total - (SELECT med_total FROM med))) * 1.4826 AS mad_total FROM metrics m
    ),
    flagged AS (
      SELECT m.*,
             CASE WHEN m.total < (SELECT med_total FROM med) - 3 * (SELECT mad_total FROM mad)
                       OR m.total > (SELECT med_total FROM med) + 3 * (SELECT mad_total FROM mad)
                  THEN 1 ELSE 0 END AS is_outlier
      FROM metrics m
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_entities,
           CAST(SUM(is_outlier) AS BIGINT) AS n_outliers,
           CAST(COUNT(CASE WHEN is_outlier = 0 AND n_rows >= 5 THEN 1 END) AS BIGINT) AS n_pass,
           ROUND(SUM(CASE WHEN is_outlier = 0 AND n_rows >= 5 THEN total END), 2) AS passing_total
    FROM flagged
    """,
    tags=("pipeline", "E2", "bench"),
)
def qc_filter_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The QC→filter pipeline E2 (R/wrapper.R:78-117 → 148-220 → 223-252):
    per-entity metric bundle (A8) → global MAD outlier flags (A11) →
    support filter (A10) → survivors summary. The reference's per-sample
    loop and three separate passes become one chain; the flags are the
    `mad_outlier_flags` operator over one global group."""
    o = load_table(spark, sf_dir, "orders")
    metrics = o.groupBy(F.col("o_custkey").alias("entity")).agg(
        F.count("*").alias("n_rows"),
        F.sum("o_totalprice").alias("total"),
        (
            100.0
            * F.coalesce(
                F.sum(F.when(F.col("o_orderpriority") == "1-URGENT", F.col("o_totalprice"))), F.lit(0.0)
            )
            / F.sum("o_totalprice")
        ).alias("urgent_pct"),
    )
    flagged = mad_outlier_flags(metrics, "total")
    passing = ~F.col("is_outlier") & (F.col("n_rows") >= 5)
    return flagged.agg(
        F.count("*").alias("n_entities"),
        F.sum(F.col("is_outlier").cast("long")).alias("n_outliers"),
        F.count(F.when(passing, 1)).alias("n_pass"),
        F.round(F.sum(F.when(passing, F.col("total"))), 2).alias("passing_total"),
    )


@register(
    "cluster_pipeline",
    # invariant-certificate oracle (was rows-only): KMeans label ids are
    # arbitrary so the edge table can't be hash-compared, but the clustree
    # transition graph has conserved structure — every input point appears
    # on exactly one edge (sum of edge counts == the real cross-engine row
    # count of embeddings), label cardinalities respect k at both
    # resolutions, and the edge count is bounded by the label product.
    # Label-level value correctness is anchored by the planted-blob
    # `cluster_blobs_certificate` (recovers labels pure + exact edges).
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_points,
           true AS lo_labels_ok, true AS hi_labels_ok, true AS edges_bounded
    FROM embeddings
    """,
    tags=("pipeline", "E3", "ml"),
)
def cluster_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cluster pipeline E3 end-to-end on real embeddings (SURVEY §3:
    get_denoisedPCs → get_clusters → get_clustree,
    R/wrapper.R:259-264 → 267-324 → 350-359): PCA on embeddings →
    KMeans at two resolutions → cross-resolution transition counts (the
    clustree edge table), certified by edge-mass conservation + label
    cardinality bounds."""
    from utils_spark.operators.ml import cluster_transition_counts, kmeans_clusters, pca_embed

    e = load_table(spark, sf_dir, "embeddings")
    embedded, _ratios = pca_embed(e, "embedding", n_components=8)
    k3 = kmeans_clusters(embedded, "pca", k=3, out_col="res_lo")
    k6 = kmeans_clusters(k3, "pca", k=6, out_col="res_hi")
    edges = cluster_transition_counts(k6, "res_lo", "res_hi")
    return edges.agg(
        F.sum("n").cast("long").alias("n_points"),
        F.count_distinct("from_label").between(1, 3).alias("lo_labels_ok"),
        F.count_distinct("to_label").between(1, 6).alias("hi_labels_ok"),
        (F.count("*") <= 18).alias("edges_bounded"),
    )
