"""Aggregation operators: grouped multi-aggs with quantiles, distinct,
crosstab, row proportions, binned aggregation, histograms, grouping sets.

Covers SURVEY.md §2.4 (A1-A23). All hash aggregations — Spark plans
partial (map-side) + final aggregation automatically; exact percentiles
(``functions.exact_percentile``, not approx) are used on correctness paths
per SURVEY §7.1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from utils_spark.functions import exact_percentile, fixed_width_bucket
from utils_spark.io import load_table
from utils_spark.operators import relational
from utils_spark.registry import register


@register(
    "grouped_quantiles",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 4) AS sum_qty,
           ROUND(SUM(l_extendedprice), 2) AS sum_price,
           CAST(ROUND(SUM(l_extendedprice * 100)) AS BIGINT) / 100.0 / COUNT(*) AS avg_price,
           ROUND(MAX(l_extendedprice), 4) AS max_price,
           ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS median_price,
           ROUND(quantile_cont(l_extendedprice, 0.75), 4) AS q75_price,
           ROUND(quantile_cont(l_extendedprice, 0.99), 4) AS q99_price,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
    tags=("aggregates", "A1", "bench", "flagship"),
)
def grouped_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAGSHIP: per-group multi-agg with exact quantiles — the reference's
    canonical recipe (A1: R/utils.R:7-14 `max, median, q0.75, q0.99 by
    Sample`), TPC-H Q1 shaped.

    Scale: single shuffle on the (tiny-cardinality) group key; the exact
    quantiles are `exact_percentile`, one sorted array per group read at
    all three ps (near-distinct prices: one flat sort beats `percentile`'s
    value→count hash map). A group holds all its values, so at 100 TB
    switch to percentile_approx (mergeable sketches, `approx_sketch_aggs`)."""
    li = load_table(spark, sf_dir, "lineitem")
    pct = exact_percentile("l_extendedprice", (0.5, 0.75, 0.99))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
            # exact-integer-numerator avg (2dp-quantized prices)
            (F.round(F.sum(F.col("l_extendedprice") * 100)).cast("long") / 100.0 / F.count("*")).alias(
                "avg_price"
            ),
            F.round(F.max("l_extendedprice"), 4).alias("max_price"),
            pct.alias("_pct"),
            F.count("*").alias("n"),
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            "sum_qty",
            "sum_price",
            "avg_price",
            "max_price",
            F.round(F.col("_pct")[0], 4).alias("median_price"),
            F.round(F.col("_pct")[1], 4).alias("q75_price"),
            F.round(F.col("_pct")[2], 4).alias("q99_price"),
            "n",
        )
    )


@register(
    "distinct_rows",
    oracle="SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
    tags=("aggregates", "A2"),
)
def distinct_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (reference A2: R/utils.R:29 `!duplicated`). Partial-agg
    dedup map-side before the shuffle."""
    return load_table(spark, sf_dir, "lineitem").select("l_returnflag", "l_linestatus").distinct()


@register(
    "group_sizes",
    oracle="""
    SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n
    FROM orders GROUP BY o_orderpriority, o_orderstatus
    """,
    tags=("aggregates", "A3"),
)
def group_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group sizes (reference A3: `table(labels)`, R/slingshot.R:32)."""
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority", "o_orderstatus")
        .agg(F.count("*").alias("n"))
    )


@register(
    "functional_dependency_check",
    oracle="""
    SELECT n_regionkey AS group_key, COUNT(DISTINCT n_name) AS n_labels,
           CASE WHEN COUNT(DISTINCT n_name) > 1 THEN 1 ELSE 0 END AS violates_fd
    FROM nation GROUP BY n_regionkey
    """,
    tags=("aggregates", "A4"),
)
def functional_dependency_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact count-distinct per group as a functional-dependency check
    (reference A4: R/utils.R:24-41 one-label-per-group assertion). Exact,
    not approx_count_distinct — correctness path."""
    n = load_table(spark, sf_dir, "nation")
    return n.groupBy(F.col("n_regionkey").alias("group_key")).agg(
        F.countDistinct("n_name").alias("n_labels"),
        F.when(F.countDistinct("n_name") > 1, 1).otherwise(0).alias("violates_fd"),
    )


@register(
    "crosstab_proportions",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
           ROUND(CAST(COUNT(*) AS DOUBLE) /
                 SUM(COUNT(*)) OVER (PARTITION BY o_orderstatus), 6) AS row_prop
    FROM orders GROUP BY o_orderstatus, o_orderpriority
    """,
    tags=("aggregates", "A5", "A6"),
)
def crosstab_proportions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contingency table + row-proportion normalization (reference A5/A6:
    R/integrate.R:231-232 `proportions(table(a,b), margin=1)`), kept long
    (scale rule SURVEY §7.5) with a window over the aggregated result."""
    o = load_table(spark, sf_dir, "orders")
    xt = relational.crosstab_proportions(o, "o_orderstatus", "o_orderpriority")
    return xt.withColumn("row_prop", F.round("row_prop", 6))


@register(
    "group_cv",
    oracle="""
    SELECT c_mktsegment,
           ROUND(stddev_samp(c_acctbal) / AVG(c_acctbal), 6) AS cv,
           CAST(ROUND(SUM(c_acctbal * 100)) AS BIGINT) / 100.0 / COUNT(*) AS mean_bal,
           ROUND(stddev_samp(c_acctbal), 4) AS sd_bal
    FROM customer GROUP BY c_mktsegment
    """,
    tags=("aggregates", "A7"),
)
def group_cv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coefficient of variation per group (reference A7:
    R/integrate.R:233-235 `sd(x)/mean(x)`)."""
    c = load_table(spark, sf_dir, "customer")
    return c.groupBy("c_mktsegment").agg(
        F.round(F.stddev_samp("c_acctbal") / F.avg("c_acctbal"), 6).alias("cv"),
        # exact-integer-numerator avg (2dp-quantized balances)
        (F.round(F.sum(F.col("c_acctbal") * 100)).cast("long") / 100.0 / F.count("*")).alias("mean_bal"),
        F.round(F.stddev_samp("c_acctbal"), 4).alias("sd_bal"),
    )


@register(
    "qc_metrics_bundle",
    oracle="""
    SELECT o_custkey AS entity_id,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(SUM(o_totalprice), 4) AS total,
           CAST(COUNT(CASE WHEN o_totalprice > 100000 THEN 1 END) AS BIGINT) AS n_large,
           ROUND(100.0 * COALESCE(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice END), 0)
                 / SUM(o_totalprice), 6) AS urgent_pct
    FROM orders GROUP BY o_custkey
    """,
    tags=("aggregates", "A8", "A9"),
)
def qc_metrics_bundle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-entity QC metric bundle — the shape of perCellQCMetrics
    (reference A8: R/wrapper.R:78-117): total, detected-count, and
    %-of-total in a predicate-defined subset, all in ONE hash aggregation
    pass (no second scan)."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy(F.col("o_custkey").alias("entity_id")).agg(
        F.count("*").alias("n_rows"),
        F.round(F.sum("o_totalprice"), 4).alias("total"),
        F.count(F.when(F.col("o_totalprice") > 100000, 1)).alias("n_large"),
        F.round(
            100.0
            * F.coalesce(F.sum(F.when(F.col("o_orderpriority") == "1-URGENT", F.col("o_totalprice"))), F.lit(0.0))
            / F.sum("o_totalprice"),
            6,
        ).alias("urgent_pct"),
    )


@register(
    "support_filter",
    oracle="""
    SELECT l_partkey, CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders
    FROM lineitem GROUP BY l_partkey
    HAVING COUNT(DISTINCT l_orderkey) >= 5
    """,
    tags=("aggregates", "A10", "A23"),
)
def support_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-support filter (reference A10/A23: R/wrapper.R:223-252 keep
    genes expressed in ≥ k cells; R/qc_rna.R:89 min_count-in-min_rep)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_partkey")
        .agg(F.countDistinct("l_orderkey").alias("n_orders"))
        .filter(F.col("n_orders") >= 5)
    )


@register(
    "binned_agg",
    oracle="""
    SELECT CAST(LEAST(FLOOR(o_totalprice / 30000.0), 19) AS INT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(ROUND(SUM(o_totalprice * 100)) AS BIGINT) / 100.0 / COUNT(*) AS avg_price,
           ROUND(100.0 * COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) / COUNT(*), 6)
             AS pct_finished
    FROM orders GROUP BY 1
    """,
    tags=("aggregates", "A13", "A14"),
)
def binned_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width binned aggregation + histogram + percent-expressing-style
    conditional share (reference A13/A14: R/tradeseq.R:131-150 per-bin mean
    and percent_expressing; R/wrapper.R:130-133 histogram). Bucketing is a
    map-side expression; one hash-agg on ≤20 keys."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.withColumn("bucket", fixed_width_bucket("o_totalprice", 30000.0, 20))
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n"),
            # exact-integer-numerator avg of 2dp-quantized prices
            (F.round(F.sum(F.col("o_totalprice") * 100)).cast("long") / 100.0 / F.count("*")).alias(
                "avg_price"
            ),
            F.round(
                100.0 * F.count(F.when(F.col("o_orderstatus") == "F", 1)) / F.count("*"), 6
            ).alias("pct_finished"),
        )
    )


@register(
    "grouping_sets_cube",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(COUNT(*) AS BIGINT) AS n, ROUND(SUM(l_quantity), 4) AS sum_qty
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    tags=("aggregates", "A21"),
)
def grouping_sets_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full cube over flag combinations (reference A21:
    R/compare_annotation.R:182-190 tally of threshold-outcome combos —
    the reference's closest thing to grouping sets, generalized)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"), F.round(F.sum("l_quantity"), 4).alias("sum_qty")
    )


@register(
    "pseudobulk_sum",
    oracle="""
    SELECT l_partkey, l_returnflag, ROUND(SUM(l_quantity), 4) AS total_qty,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem GROUP BY l_partkey, l_returnflag
    """,
    tags=("aggregates", "A22", "bench"),
)
def pseudobulk_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudobulk roll-up: sum a measure over (feature × group) — reference
    A22 (R/qc_rna.R:19-21 pseudobulk counts consumed by DESeq). High-
    cardinality hash agg; partial aggregation halves shuffle volume."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_partkey", "l_returnflag").agg(
        F.round(F.sum("l_quantity"), 4).alias("total_qty"),
        F.count("*").alias("n_lines"),
    )


@register(
    "benford_digit_audit",
    # Benford first-significant-digit audit (Newcomb 1881 / Benford 1938;
    # the standard forensic data-quality screen) over order totals: the
    # first digit comes from the INTEGER string of round(x*100) — prices
    # are 2-decimal quantized, so this is exact in both engines, whereas
    # floor(x/10^floor(log10 x)) can flip at power-of-ten boundaries.
    # Chi-square goodness-of-fit rides along as a 1-row broadcast scalar.
    oracle="""
    WITH digits AS (
      SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR), 1, 1)
                  AS INT) AS digit
      FROM orders WHERE o_totalprice > 0
    ),
    obs AS (
      SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_obs FROM digits GROUP BY digit
    ),
    expect AS (
      SELECT d.digit, log10(1.0 + 1.0 / d.digit) AS p
      FROM (SELECT unnest(range(1, 10)) AS digit) d
    ),
    joined AS (
      SELECT e.digit, COALESCE(o.n_obs, 0) AS n_obs, e.p,
             SUM(COALESCE(o.n_obs, 0)) OVER () AS total
      FROM expect e LEFT JOIN obs o ON o.digit = e.digit
    ),
    chi AS (
      SELECT SUM((n_obs - total * p) * (n_obs - total * p) / (total * p)) AS chi2
      FROM joined
    )
    SELECT CAST(j.digit AS INT) AS digit, j.n_obs,
           ROUND(CAST(j.n_obs AS DOUBLE) / j.total, 6) AS obs_share,
           ROUND(j.p, 6) AS benford_share,
           ROUND(ABS(CAST(j.n_obs AS DOUBLE) / j.total - j.p), 6) AS abs_dev,
           ROUND(c.chi2, 4) AS chi2_total
    FROM joined j CROSS JOIN chi c
    """,
    tags=("aggregate", "data-quality", "benford"),
)
def benford_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order totals (Newcomb 1881,
    Benford 1938 — the classic forensic screen for fabricated or
    truncated numeric columns, a standard datasheet/data-quality check
    next to `corpus_datasheet` and `k_anonymity_audit`): observed
    first-significant-digit shares vs log10(1 + 1/d), per-digit absolute
    deviation, and the chi-square goodness-of-fit statistic. TPC-H
    prices are near-uniform over a bounded range, so they FAIL Benford
    loudly — the audit's value is the deterministic machinery, exercised
    on real columns.

    Scale shape: digit extraction is a map-side expression (integer
    string of round(x*100) — exact for 2-decimal money, immune to the
    log10 power-of-ten boundary instability); one 9-key aggregation;
    the chi-square total is a 1-row scalar joined back by broadcast
    (the allow-listed bounded BNLJ pattern)."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    digit = F.substring(
        F.round(F.col("o_totalprice") * 100).cast("long").cast("string"), 1, 1
    ).cast("int")
    obs = o.select(digit.alias("digit")).groupBy("digit").agg(F.count("*").alias("n_obs"))
    expect = spark.range(1, 10).select(
        F.col("id").cast("int").alias("digit"),
        F.log10(1.0 + 1.0 / F.col("id")).alias("p"),
    )
    joined = (
        expect.join(obs, "digit", "left")
        .na.fill({"n_obs": 0})
        .crossJoin(
            F.broadcast(
                o.agg(F.count("*").cast("long").alias("total"))
            )
        )
    )
    chi = joined.agg(
        F.sum(
            (F.col("n_obs") - F.col("total") * F.col("p"))
            * (F.col("n_obs") - F.col("total") * F.col("p"))
            / (F.col("total") * F.col("p"))
        ).alias("chi2")
    )
    return (
        joined.crossJoin(F.broadcast(chi))
        .select(
            F.col("digit").cast("int").alias("digit"),
            F.col("n_obs").cast("long").alias("n_obs"),
            F.round(F.col("n_obs").cast("double") / F.col("total"), 6).alias("obs_share"),
            F.round("p", 6).alias("benford_share"),
            F.round(F.abs(F.col("n_obs").cast("double") / F.col("total") - F.col("p")), 6).alias(
                "abs_dev"
            ),
            F.round("chi2", 4).alias("chi2_total"),
        )
    )
