"""Statistical operators and hypothesis tests: MAD outlier flagging, z-score
scaling, robust clamping, quantile thresholds and normalization, variance
explained (one-way ANOVA R²), log-normalization; grouped regression,
correlation and moments; rank and location tests (KS, Spearman,
Mann-Whitney, Kruskal-Wallis, Welch, Brown-Forsythe/Levene, Wilcoxon
signed-rank, Friedman); trend tests (Mann-Kendall, Cochran-Armitage);
contingency tests (chi-square, G-test, Fisher exact, mutual information,
two-proportion A/B); resampling (jackknife, bootstrap, permutation) and
survival (Kaplan-Meier, log-rank).

Covers SURVEY.md §2 A11, P19, P20, M16, M24, M3 — the reference's
statistics re-expressed as window/aggregate compositions (no row-at-a-time
UDFs). Daily series bucket with ``functions.utc_day``, ranks average ties
with ``functions.average_rank`` and contingency tables take their margins
from ``stats.contingency_margins``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from utils_spark.io import load_table
from utils_spark.functions import average_rank, md5_long, squish, utc_day
from utils_spark.operators import qc
from utils_spark.operators.stats import (
    MAD_CONSISTENCY,
    contingency_margins,
    median_mad,
    pairwise_value_counts,
    zscore_per_group,
)
from utils_spark.registry import register


def _purchase_durations(events: DataFrame) -> DataFrame:
    """Per user, whole hours from the first event to the first purchase,
    censored at 48 → (user_id, t, ev): ev = 1 for a purchase within 48 h,
    ev = 0 (t = 48) for a later purchase or none. The duration table of
    the survival queries."""
    users = events.groupBy("user_id").agg(
        F.floor(
            (
                F.unix_timestamp(F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))))
                - F.unix_timestamp(F.min("ts"))
            )
            / 3600.0
        ).cast("long").alias("h")
    )
    return users.select(
        "user_id",
        F.when(F.col("h") <= 48, F.col("h")).otherwise(F.lit(48)).alias("t"),
        F.when(F.col("h") <= 48, 1).otherwise(0).alias("ev"),
    )


def _replicate_uniform() -> Column:
    """Deterministic U[0,1) draw per (event_type, day, b) row, from
    md5("event_type:day:b") in steps of 1e-6: the replicate draw of the
    resampling queries, bit-identical in every engine (no RNG)."""
    key = F.concat(
        F.col("event_type"), F.lit(":"), F.col("day").cast("string"),
        F.lit(":"), F.col("b").cast("string"),
    )
    return (md5_long(key) % 1000000) / 1000000.0


@register(
    "mad_outliers",
    oracle=f"""
    WITH med AS (
      SELECT c_mktsegment, median(c_acctbal) AS med_bal
      FROM customer GROUP BY c_mktsegment
    ),
    mad AS (
      SELECT c.c_mktsegment, m.med_bal,
             median(ABS(c.c_acctbal - m.med_bal)) * {MAD_CONSISTENCY} AS mad_bal
      FROM customer c JOIN med m ON c.c_mktsegment = m.c_mktsegment
      GROUP BY c.c_mktsegment, m.med_bal
    )
    SELECT c.c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(ANY_VALUE(m.med_bal), 4) AS med_bal,
           ROUND(ANY_VALUE(m.mad_bal), 4) AS mad_bal,
           CAST(COUNT(CASE WHEN c.c_acctbal < m.med_bal - 3 * m.mad_bal THEN 1 END) AS BIGINT) AS n_low,
           CAST(COUNT(CASE WHEN c.c_acctbal > m.med_bal + 3 * m.mad_bal THEN 1 END) AS BIGINT) AS n_high
    FROM customer c JOIN mad m ON c.c_mktsegment = m.c_mktsegment
    GROUP BY c.c_mktsegment
    """,
    tags=("stats", "A11", "bench"),
)
def mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAD-based outlier flags per group, nmads=3 (reference A11:
    R/wrapper.R:148-220 perCellQCFilters: flag x < median − 3·MAD lower
    tail / upper tail; the per-sample R loop becomes one groupBy).

    Two exact-median aggregation passes (the `median_mad` stage of the
    `mad_outlier_flags` operator) + a broadcast join of the (tiny)
    per-group threshold table back onto the data — the reference's
    driver-RAM thresholds become a broadcast table (SURVEY §3)."""
    c = load_table(spark, sf_dir, "customer")
    mad = median_mad(c, "c_acctbal", ["c_mktsegment"])
    return (
        c.join(F.broadcast(mad), "c_mktsegment")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n"),
            F.round(F.first("__med"), 4).alias("med_bal"),
            F.round(F.first("__mad"), 4).alias("mad_bal"),
            F.count(F.when(F.col("c_acctbal") < F.col("__med") - 3 * F.col("__mad"), 1)).alias("n_low"),
            F.count(F.when(F.col("c_acctbal") > F.col("__med") + 3 * F.col("__mad"), 1)).alias("n_high"),
        )
    )


@register(
    "zscore_squish",
    oracle="""
    WITH stats AS (
      SELECT c_mktsegment,
             AVG(c_acctbal) AS mu, stddev_samp(c_acctbal) AS sigma,
             quantile_cont(c_acctbal, 0.25) AS q1, quantile_cont(c_acctbal, 0.75) AS q3
      FROM customer GROUP BY c_mktsegment
    )
    SELECT c.c_custkey, c.c_mktsegment,
           ROUND((c.c_acctbal - s.mu) / s.sigma, 6) AS zscore,
           ROUND(LEAST(GREATEST(c.c_acctbal, s.q1 - 1.5 * (s.q3 - s.q1)),
                       s.q3 + 1.5 * (s.q3 - s.q1)), 4) AS squished
    FROM customer c JOIN stats s ON c.c_mktsegment = s.c_mktsegment
    """,
    tags=("stats", "P19", "P20"),
)
def zscore_squish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score + robust boxplot-whisker clamp (reference P19/P20:
    R/tradeseq.R:172-182 scale, 222-236 squish to boxplot.stats limits).

    Single shuffle: group stats via window functions over one partitioning
    (no join needed — stats and row values co-partitioned)."""
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment")
    q = c.select(
        "*",
        F.expr("percentile(c_acctbal, 0.25)").over(w).alias("__q1"),
        F.expr("percentile(c_acctbal, 0.75)").over(w).alias("__q3"),
    )
    q1, q3 = F.col("__q1"), F.col("__q3")
    iqr = q3 - q1
    return zscore_per_group(q, "c_acctbal", ["c_mktsegment"]).select(
        "c_custkey",
        "c_mktsegment",
        F.round("zscore", 6).alias("zscore"),
        F.round(squish(F.col("c_acctbal"), q1 - 1.5 * iqr, q3 + 1.5 * iqr), 4).alias("squished"),
    )


@register(
    "ks_test",
    oracle="""
    WITH s AS (
      SELECT value AS v,
             CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS a,
             CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS b
      FROM events WHERE event_type IN ('click', 'view') AND value IS NOT NULL
    ),
    pervalue AS (SELECT v, SUM(a) AS ca, SUM(b) AS cb FROM s GROUP BY v),
    tot AS (SELECT SUM(a) AS na, SUM(b) AS nb FROM s),
    ecdf AS (
      SELECT SUM(ca) OVER (ORDER BY v) / (SELECT na FROM tot) AS fa,
             SUM(cb) OVER (ORDER BY v) / (SELECT nb FROM tot) AS fb
      FROM pervalue
    )
    SELECT ROUND(MAX(ABS(fa - fb)), 6) AS ks_stat,
           ROUND(LEAST(1.0, 2 * EXP(-2 * MAX(ABS(fa - fb)) * MAX(ABS(fa - fb))
                 * ((SELECT na FROM tot) * (SELECT nb FROM tot)
                    / ((SELECT na FROM tot) + (SELECT nb FROM tot))))), 6) AS p_asymptotic,
           CAST((SELECT na FROM tot) AS BIGINT) AS n_a,
           CAST((SELECT nb FROM tot) AS BIGINT) AS n_b
    FROM ecdf
    """,
    tags=("stats", "M16", "bench"),
)
def ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov test, fully distributed (reference M16:
    R/slingshot.R:113-121 — declared as `pairwise_ks_test` but left as a
    `stop('Yet to add code!')` stub; we implement it for real).

    ECDFs via cumulative-count windows over the pooled distinct values;
    D = max|F_a − F_b|; asymptotic two-sided p ≈ 2·exp(−2·D²·n_a·n_b/(n_a+n_b)).
    Scale: group-by value compresses the pooled sort input to distinct
    values; a single global ordered window over that compressed set."""
    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "view") & F.col("value").isNotNull())
        .select(
            F.col("value").alias("v"),
            F.when(F.col("event_type") == "click", 1).otherwise(0).alias("a"),
            F.when(F.col("event_type") == "view", 1).otherwise(0).alias("b"),
        )
    )
    pervalue = e.groupBy("v").agg(F.sum("a").alias("ca"), F.sum("b").alias("cb"))
    na = F.sum("ca").over(Window.partitionBy())
    nb = F.sum("cb").over(Window.partitionBy())
    wcum = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ecdf = pervalue.select(
        (F.sum("ca").over(wcum) / na).alias("fa"),
        (F.sum("cb").over(wcum) / nb).alias("fb"),
        na.alias("na"),
        nb.alias("nb"),
    )
    d = F.max(F.abs(F.col("fa") - F.col("fb")))
    en = F.first("na") * F.first("nb") / (F.first("na") + F.first("nb"))
    return ecdf.agg(
        F.round(d, 6).alias("ks_stat"),
        F.round(F.least(F.lit(1.0), 2 * F.exp(-2 * d * d * en)), 6).alias("p_asymptotic"),
        F.first("na").cast("long").alias("n_a"),
        F.first("nb").cast("long").alias("n_b"),
    )


@register(
    "quantile_thresholds",
    oracle="""
    WITH thr AS (
      SELECT quantile_cont(c_acctbal, 0.15) AS t_bal FROM customer
    ), pth AS (
      SELECT quantile_cont(p_retailprice, 0.15) AS t_price FROM part
    )
    SELECT f1, f2, CAST(COUNT(*) AS BIGINT) AS n FROM (
      SELECT CASE WHEN c_acctbal >= (SELECT t_bal FROM thr) THEN 1 ELSE 0 END AS f1,
             CASE WHEN c_custkey % 2 = 0 THEN 1 ELSE 0 END AS f2
      FROM customer
    ) GROUP BY f1, f2
    """,
    tags=("stats", "M24", "A21"),
)
def quantile_thresholds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-threshold robust selection + flag-combination tally
    (reference M24/A21: R/compare_annotation.R:144-201 — per-feature
    quantile(0.15) thresholds → ≥-flags → combo counts for the Sankey).

    The threshold is a 1-row aggregate broadcast-joined (cross) onto the
    data — never collected to the driver."""
    c = load_table(spark, sf_dir, "customer")
    thr = c.agg(F.expr("percentile(c_acctbal, 0.15)").alias("t_bal"))
    flagged = c.crossJoin(F.broadcast(thr)).select(
        F.when(F.col("c_acctbal") >= F.col("t_bal"), 1).otherwise(0).alias("f1"),
        F.when(F.col("c_custkey") % 2 == 0, 1).otherwise(0).alias("f2"),
    )
    return flagged.groupBy("f1", "f2").agg(F.count("*").alias("n"))


@register(
    "variance_explained",
    oracle="""
    WITH g AS (
      SELECT event_type, COUNT(*) AS n_g, AVG(value) AS mu_g
      FROM events WHERE value IS NOT NULL GROUP BY event_type
    ),
    tot AS (
      SELECT AVG(value) AS mu, SUM((value - (SELECT AVG(value) FROM events WHERE value IS NOT NULL))
             * (value - (SELECT AVG(value) FROM events WHERE value IS NOT NULL))) AS ss_tot
      FROM events WHERE value IS NOT NULL
    )
    SELECT ROUND(SUM(g.n_g * (g.mu_g - t.mu) * (g.mu_g - t.mu)) / ANY_VALUE(t.ss_tot), 6) AS r2
    FROM g CROSS JOIN tot t
    """,
    tags=("stats", "M3"),
)
def variance_explained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance explained by a categorical covariate — one-way ANOVA R²
    (reference M3: R/integrate.R:36-39 scater::getVarianceExplained).
    R² = SS_between / SS_total, two cheap aggregation passes."""
    e = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    tot = e.agg(
        F.avg("value").alias("mu"),
        (F.count("*") * F.var_pop("value")).alias("ss_tot"),
    )
    g = e.groupBy("event_type").agg(F.count("*").alias("n_g"), F.avg("value").alias("mu_g"))
    return (
        g.crossJoin(F.broadcast(tot))
        .agg(
            F.round(
                F.sum(F.col("n_g") * (F.col("mu_g") - F.col("mu")) * (F.col("mu_g") - F.col("mu")))
                / F.first("ss_tot"),
                6,
            ).alias("r2")
        )
    )


@register(
    "log_normalize",
    oracle="""
    WITH sf AS (
      SELECT o_custkey, SUM(o_totalprice) AS cust_total
      FROM orders GROUP BY o_custkey
    ),
    m AS (SELECT AVG(cust_total) AS mean_total FROM sf)
    SELECT o.o_orderkey, o.o_custkey,
           ROUND(LOG2(o.o_totalprice / (s.cust_total / (SELECT mean_total FROM m)) + 1), 6)
             AS log_norm
    FROM orders o JOIN sf s ON o.o_custkey = s.o_custkey
    """,
    tags=("stats", "P18", "normalize"),
)
def log_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Library-size log-normalization: log2(x / size_factor + 1), size
    factor = per-entity total scaled to mean 1 (reference:
    R/reference.R:161 scater::logNormCounts semantics, SURVEY §2.7).

    Per-entity totals + one scalar mean, then a map-side expression —
    the same two-pass shape works at any scale."""
    o = load_table(spark, sf_dir, "orders")
    return qc.log_normalize(o, "o_custkey", "o_totalprice").select(
        "o_orderkey", "o_custkey", F.round("log_norm", 6).alias("log_norm")
    )


@register(
    "grouped_regression",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n,
           ROUND(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
           ROUND(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
           ROUND(regr_r2(l_extendedprice, l_quantity), 6) AS r2
    FROM lineitem GROUP BY l_returnflag, l_linestatus
    """,
    tags=("stats", "M14", "regression"),
)
def grouped_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group simple linear regression via BUILT-IN regression
    aggregates (regr_slope/intercept/r2) — the JVM-side, partial-
    aggregatable fast path for the M14 association-fit family (the
    applyInPandas grouped_polyfit covers arbitrary degree + p-values;
    this covers the degree-1 hot path with zero Python)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.expr("regr_count(l_extendedprice, l_quantity)").cast("long").alias("n"),
        F.round(F.expr("regr_slope(l_extendedprice, l_quantity)"), 4).alias("slope"),
        F.round(F.expr("regr_intercept(l_extendedprice, l_quantity)"), 4).alias("intercept"),
        F.round(F.expr("regr_r2(l_extendedprice, l_quantity)"), 6).alias("r2"),
    )


@register(
    "quantile_normalize",
    oracle="""
    WITH ranked AS (
      SELECT c_mktsegment, c_custkey, c_acctbal,
             row_number() OVER (PARTITION BY c_mktsegment
                                ORDER BY c_acctbal, c_custkey) AS rnk
      FROM customer
    ),
    ref AS (
      SELECT rnk, AVG(c_acctbal) AS ref_val, COUNT(*) AS n_samples
      FROM ranked GROUP BY rnk
    )
    SELECT r.c_mktsegment, r.c_custkey,
           ROUND(r.c_acctbal, 4) AS original,
           ROUND(f.ref_val, 6) AS normalized
    FROM ranked r JOIN ref f ON r.rnk = f.rnk
    WHERE f.n_samples = 5
    """,
    tags=("stats", "M21", "quantile-normalize"),
)
def quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization across samples (the bulk-RNA bioinformatics
    classic adjacent to reference M21's vst/sample-QC): rank values within
    each sample, replace each value with the cross-sample mean at its
    rank → all samples share an identical distribution. Two windows + one
    join; ranks where some sample is exhausted (unequal sizes) are
    dropped, matching the strict definition."""
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    ranked = c.withColumn("rnk", F.row_number().over(w))
    ref = ranked.groupBy("rnk").agg(
        F.avg("c_acctbal").alias("ref_val"), F.count("*").alias("n_samples")
    )
    n_segments = 5
    return (
        ranked.join(ref, "rnk")
        .filter(F.col("n_samples") == n_segments)
        .select(
            "c_mktsegment",
            "c_custkey",
            F.round("c_acctbal", 4).alias("original"),
            F.round("ref_val", 6).alias("normalized"),
        )
    )


@register(
    "grouped_correlation",
    oracle="""
    SELECT l_returnflag,
           ROUND(corr(l_extendedprice, l_quantity), 6) AS price_qty_corr,
           ROUND(covar_samp(l_extendedprice, l_quantity), 4) AS price_qty_covar,
           ROUND(corr(l_discount, l_tax), 6) AS disc_tax_corr
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("stats", "correlation"),
)
def grouped_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group Pearson correlation and sample covariance — built-in
    JVM-side two-pass-free aggregates (partial+final mergeable moments)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_extendedprice", "l_quantity"), 6).alias("price_qty_corr"),
        F.round(F.covar_samp("l_extendedprice", "l_quantity"), 4).alias("price_qty_covar"),
        F.round(F.corr("l_discount", "l_tax"), 6).alias("disc_tax_corr"),
    )


@register(
    "grouped_moments",
    oracle="""
    WITH m AS (
      SELECT l_returnflag, COUNT(*) AS n,
             AVG(l_quantity) AS m1,
             AVG(l_quantity * l_quantity) AS m2,
             AVG(l_quantity * l_quantity * l_quantity) AS m3,
             AVG(l_quantity * l_quantity * l_quantity * l_quantity) AS m4
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, CAST(n AS BIGINT) AS n,
           ROUND((m3 - 3 * m1 * m2 + 2 * m1 * m1 * m1)
                 / pow(m2 - m1 * m1, 1.5), 6) AS skewness_pop,
           ROUND((m4 - 4 * m1 * m3 + 6 * m1 * m1 * m2 - 3 * m1 * m1 * m1 * m1)
                 / pow(m2 - m1 * m1, 2) - 3, 6) AS excess_kurtosis_pop
    FROM m
    """,
    tags=("stats", "moments"),
)
def grouped_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population skewness and excess kurtosis from explicit power sums —
    built BOTH engines from the same raw-moment formulas (engines'
    built-in skewness/kurtosis differ in bias-correction conventions, so
    the portable form computes E[x^k] moments and combines identically)."""
    li = load_table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity")
    m = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.avg(q).alias("m1"),
        F.avg(q * q).alias("m2"),
        F.avg(q * q * q).alias("m3"),
        F.avg(q * q * q * q).alias("m4"),
    )
    m1, m2, m3, m4 = F.col("m1"), F.col("m2"), F.col("m3"), F.col("m4")
    var = m2 - m1 * m1
    skew = (m3 - 3 * m1 * m2 + 2 * m1 * m1 * m1) / F.pow(var, 1.5)
    kurt = (m4 - 4 * m1 * m3 + 6 * m1 * m1 * m2 - 3 * m1 * m1 * m1 * m1) / F.pow(var, 2) - 3
    return m.select(
        "l_returnflag",
        F.col("n").cast("long").alias("n"),
        F.round(skew, 6).alias("skewness_pop"),
        F.round(kurt, 6).alias("excess_kurtosis_pop"),
    )


@register(
    "spearman_rank_correlation",
    # Spearman rho per event type between the daily count and daily mean
    # value series — rank-based (monotone, outlier-robust), with R's
    # average-rank tie handling computed explicitly: avg_rank =
    # min_rank + (n_ties - 1)/2, then Pearson over the ranks. Integer
    # counts tie often, so tie handling is load-bearing, not decorative.
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
             CAST(COUNT(*) AS DOUBLE) AS x, AVG(value) AS y
      FROM events GROUP BY 1, 2
    ),
    ranked AS (
      SELECT event_type, day,
             rank() OVER (PARTITION BY event_type ORDER BY x)
               + (COUNT(*) OVER (PARTITION BY event_type, x) - 1) / 2.0 AS rx,
             rank() OVER (PARTITION BY event_type ORDER BY y)
               + (COUNT(*) OVER (PARTITION BY event_type, y) - 1) / 2.0 AS ry
      FROM daily
    )
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
           ROUND((COUNT(*) * SUM(rx * ry) - SUM(rx) * SUM(ry))
                 / (sqrt(COUNT(*) * SUM(rx * rx) - SUM(rx) * SUM(rx))
                    * sqrt(COUNT(*) * SUM(ry * ry) - SUM(ry) * SUM(ry))), 6)
             AS spearman_rho
    FROM ranked GROUP BY event_type
    """,
    tags=("stats", "correlation", "rank"),
)
def spearman_rank_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation (Spearman 1904) per event type between
    daily event count and daily mean value — the monotone-association,
    outlier-robust sibling of Pearson `grouped_correlation` /
    `rolling_correlation`. Ties get R's AVERAGE ranks
    (`functions.average_rank`: (2·rank + ties − 1)/2, two windows), then
    rho is Pearson over the rank pairs; integer daily counts tie
    frequently, so average-rank handling visibly changes the result and
    is hash-checked.

    Scale shape: one bounded daily rollup, two rank windows per series
    (partitioned by event type — parallel across series), one closing
    aggregation. Ranks are half-integers (exact in double), so the only
    float rounding is the final 6dp rho."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", utc_day("ts").alias("day")
    ).agg(F.count("*").cast("double").alias("x"), F.avg("value").alias("y"))
    ranked = daily.select(
        "event_type",
        average_rank(["event_type"], "x").alias("rx"),
        average_rank(["event_type"], "y").alias("ry"),
    )
    n = F.count("*")
    num = n * F.sum(F.col("rx") * F.col("ry")) - F.sum("rx") * F.sum("ry")
    dx = F.sqrt(n * F.sum(F.col("rx") * F.col("rx")) - F.sum("rx") * F.sum("rx"))
    dy = F.sqrt(n * F.sum(F.col("ry") * F.col("ry")) - F.sum("ry") * F.sum("ry"))
    return ranked.groupBy("event_type").agg(
        n.cast("long").alias("n_days"),
        F.round(num / (dx * dy), 6).alias("spearman_rho"),
    )


@register(
    "chi_square_independence",
    # Pearson chi-square test of independence (event_type x day-of-week;
    # DuckDB dayofweek is 0-6 Sunday-first vs Spark's 1-7 — oracle adds 1
    # contingency table): per-cell observed vs expected = row_tot *
    # col_tot / N with the cell's chi2 contribution, plus the table
    # statistic and degrees of freedom on every row (1-row broadcast
    # scalar, the allow-listed pattern). The workhorse categorical
    # association test beside the KS family's continuous ones.
    oracle="""
    WITH obs AS (
      SELECT event_type, dayofweek(CAST(ts AS TIMESTAMP)) + 1 AS dow,
             CAST(COUNT(*) AS BIGINT) AS o
      FROM events GROUP BY 1, 2
    ),
    tot AS (
      SELECT event_type, dow, o,
             SUM(o) OVER (PARTITION BY event_type) AS row_tot,
             SUM(o) OVER (PARTITION BY dow) AS col_tot,
             SUM(o) OVER () AS n
      FROM obs
    ),
    cells AS (
      SELECT event_type, dow, o,
             CAST(row_tot AS DOUBLE) * col_tot / n AS expected,
             (o - CAST(row_tot AS DOUBLE) * col_tot / n)
               * (o - CAST(row_tot AS DOUBLE) * col_tot / n)
               / (CAST(row_tot AS DOUBLE) * col_tot / n) AS contrib
      FROM tot
    ),
    stat AS (
      SELECT SUM(contrib) AS chi2,
             (COUNT(DISTINCT event_type) - 1) * (COUNT(DISTINCT dow) - 1) AS dof
      FROM cells
    )
    SELECT c.event_type, CAST(c.dow AS INT) AS dow, c.o AS observed,
           ROUND(c.expected, 4) AS expected, ROUND(c.contrib, 6) AS contrib,
           ROUND(s.chi2, 4) AS chi2_total, CAST(s.dof AS INT) AS dof
    FROM cells c CROSS JOIN stat s
    """,
    tags=("stats", "chi-square", "categorical"),
)
def chi_square_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square test of independence (Pearson 1900) on the
    event_type x day-of-week contingency table: per-cell observed count,
    expected count under independence (row x column marginals / N), the
    cell's chi-square contribution — which cells drive the association,
    the part a scalar test statistic hides — and the table-level
    statistic with degrees of freedom. Completes the classical-test
    family beside KS (continuous distributions), Benford (digit GOF) and
    the ANOVA R-squared of `variance_explained`.

    Scale shape: one contingency aggregation (bounded: types x 7), the
    marginals via window sums over the bounded cell table, and a 1-row
    scalar cross join (the allow-listed bounded pattern). All counts are
    exact integers; expected/contrib round at 4/6dp."""
    e = load_table(spark, sf_dir, "events")
    obs = e.groupBy("event_type", F.dayofweek("ts").alias("dow")).agg(
        F.count("*").cast("long").alias("o")
    )
    tot = contingency_margins(obs, "event_type", "dow", "o")
    expected = F.col("row_tot").cast("double") * F.col("col_tot") / F.col("n")
    cells = tot.select(
        "event_type",
        "dow",
        "o",
        expected.alias("expected"),
        ((F.col("o") - expected) * (F.col("o") - expected) / expected).alias("contrib"),
    )
    stat = cells.agg(
        F.sum("contrib").alias("chi2"),
        (
            (F.countDistinct("event_type") - 1) * (F.countDistinct("dow") - 1)
        ).alias("dof"),
    )
    return cells.crossJoin(F.broadcast(stat)).select(
        "event_type",
        F.col("dow").cast("int").alias("dow"),
        F.col("o").alias("observed"),
        F.round("expected", 4).alias("expected"),
        F.round("contrib", 6).alias("contrib"),
        F.round("chi2", 4).alias("chi2_total"),
        F.col("dof").cast("int").alias("dof"),
    )


@register(
    "mann_whitney_u",
    # Mann-Whitney U / Wilcoxon rank-sum (Mann & Whitney 1947) for every
    # event-type pair over `value` — the nonparametric two-sample location
    # test beside the KS family's distribution tests. Joint AVERAGE ranks
    # come from the per-(pair, value) count table (rank_avg = count below
    # + (ties + 1)/2), so rank sums are exact half-integer sums; the
    # normal approximation uses the tie-corrected variance
    # n_a n_b / 12 * ((n + 1) - sum(t^3 - t) / (n (n - 1))).
    oracle="""
    WITH types AS (SELECT DISTINCT event_type AS t FROM events),
    pairs AS (SELECT a.t AS ta, b.t AS tb FROM types a JOIN types b ON a.t < b.t),
    tagged AS (
      SELECT p.ta, p.tb, e.value AS v,
             CASE WHEN e.event_type = p.ta THEN 1 ELSE 0 END AS a,
             CASE WHEN e.event_type = p.tb THEN 1 ELSE 0 END AS b
      FROM events e JOIN pairs p ON e.event_type IN (p.ta, p.tb)
    ),
    pervalue AS (SELECT ta, tb, v, SUM(a) AS ca, SUM(b) AS cb FROM tagged GROUP BY ta, tb, v),
    ranked AS (
      SELECT ta, tb, ca, cb,
             COALESCE(SUM(ca + cb) OVER (PARTITION BY ta, tb ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + (ca + cb + 1) / 2.0 AS rank_avg,
             CAST((ca + cb) * (ca + cb) * (ca + cb) - (ca + cb) AS DOUBLE) AS tie_term
      FROM pervalue
    ),
    agg AS (
      SELECT ta, tb, CAST(SUM(ca) AS DOUBLE) AS na, CAST(SUM(cb) AS DOUBLE) AS nb,
             SUM(ca * rank_avg) AS ra, SUM(tie_term) AS ties
      FROM ranked GROUP BY ta, tb
    )
    SELECT ta AS group_a, tb AS group_b,
           CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           ROUND(ra - na * (na + 1) / 2.0, 1) AS u_stat,
           ROUND((ra - na * (na + 1) / 2.0 - na * nb / 2.0)
                 / sqrt(na * nb / 12.0
                        * ((na + nb + 1) - ties / ((na + nb) * (na + nb - 1)))), 6) AS z_stat
    FROM agg
    """,
    tags=("stats", "rank", "nonparametric", "M16"),
)
def mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U test for every event-type pair: U statistic from the
    joint average-rank sum and the tie-corrected normal z. Completes the
    nonparametric two-sample family beside `pairwise_ks` (distribution
    shape) and `start_vs_end_test` (Welch z on means) — rank-sum tests
    location while being outlier-robust, and with 100k rows at sf0.1 the
    value column has ~5x tie multiplicity, so the tie variance correction
    is hash-load-bearing, not decorative.

    Scale shape (the `pairwise_ks` pattern): corpus collapses once to the
    per-(pair, value) count table, all windows partition by pair (parallel
    across pairs), and rank sums are exact (half-integers x integer
    counts sum below 2^53) so only the final z rounds. The count table is
    the `pairwise_value_counts` fanout, which drops NULL values; the oracle
    does not, so they agree because events.value is null-free at every
    shipped SF (the `pairwise_ks` caveat)."""
    e = load_table(spark, sf_dir, "events")
    pervalue = pairwise_value_counts(e, "value", "event_type")
    w = (
        Window.partitionBy("group_a", "group_b")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    t = F.col("ca") + F.col("cb")
    ranked = pervalue.select(
        "group_a",
        "group_b",
        "ca",
        "cb",
        (F.coalesce(F.sum(t).over(w), F.lit(0)) + (t + 1) / 2.0).alias("rank_avg"),
        (t * t * t - t).cast("double").alias("tie_term"),
    )
    agg = ranked.groupBy("group_a", "group_b").agg(
        F.sum("ca").cast("double").alias("na"),
        F.sum("cb").cast("double").alias("nb"),
        F.sum(F.col("ca") * F.col("rank_avg")).alias("ra"),
        F.sum("tie_term").alias("ties"),
    )
    na, nb, ra, ties = F.col("na"), F.col("nb"), F.col("ra"), F.col("ties")
    n = na + nb
    u = ra - na * (na + 1) / 2.0
    var = na * nb / 12.0 * ((n + 1) - ties / (n * (n - 1)))
    return agg.select(
        "group_a",
        "group_b",
        na.cast("long").alias("n_a"),
        nb.cast("long").alias("n_b"),
        F.round(u, 1).alias("u_stat"),
        F.round((u - na * nb / 2.0) / F.sqrt(var), 6).alias("z_stat"),
    )


@register(
    "kruskal_wallis",
    # Kruskal-Wallis H (Kruskal & Wallis 1952) across ALL event types over
    # `value`, with the tie-corrected denominator 1 - sum(t^3 - t)/(N^3 - N).
    # Global average ranks are computed WITHOUT a single-task global sort:
    # a two-level distributed prefix sum — per-value counts bucketed by
    # floor(v/16), cumulative across the ~36 bucket totals (tiny), plus a
    # within-bucket cumulative window partitioned by bucket (parallel).
    oracle="""
    WITH cnt_v AS (
      SELECT value AS v, CAST(FLOOR(value / 16) AS INT) AS bucket,
             COUNT(*) AS tc
      FROM events GROUP BY 1, 2
    ),
    bucket_cum AS (
      SELECT bucket,
             COALESCE(SUM(SUM(tc)) OVER (ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below_bucket
      FROM cnt_v GROUP BY bucket
    ),
    ranked AS (
      SELECT c.v, c.tc,
             b.below_bucket
               + COALESCE(SUM(c.tc) OVER (PARTITION BY c.bucket ORDER BY c.v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + (c.tc + 1) / 2.0 AS rank_avg
      FROM cnt_v c JOIN bucket_cum b ON c.bucket = b.bucket
    ),
    pg AS (SELECT value AS v, event_type, COUNT(*) AS gc FROM events GROUP BY 1, 2),
    groups AS (
      SELECT pg.event_type, CAST(SUM(pg.gc) AS DOUBLE) AS ng,
             SUM(pg.gc * r.rank_avg) AS rg
      FROM pg JOIN ranked r ON pg.v = r.v GROUP BY pg.event_type
    ),
    s1 AS (SELECT SUM(rg * rg / ng) AS s_rr, COUNT(*) AS k FROM groups),
    s2 AS (
      SELECT CAST(SUM(tc) AS DOUBLE) AS n,
             SUM(CAST(tc * tc * tc - tc AS DOUBLE)) AS ties
      FROM cnt_v
    )
    SELECT g.event_type, CAST(g.ng AS BIGINT) AS n,
           ROUND(g.rg, 1) AS rank_sum, ROUND(g.rg / g.ng, 6) AS mean_rank,
           ROUND((12.0 / (s2.n * (s2.n + 1)) * s1.s_rr - 3 * (s2.n + 1))
                 / (1 - s2.ties / (s2.n * s2.n * s2.n - s2.n)), 6) AS h_stat,
           CAST(s1.k - 1 AS INT) AS dof
    FROM groups g CROSS JOIN s1 CROSS JOIN s2
    """,
    tags=("stats", "rank", "nonparametric"),
)
def kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H test across event types — the k-group extension of
    `mann_whitney_u` (one-way ANOVA on ranks), with per-group rank sums
    and mean ranks exposed per row plus the tie-corrected table statistic
    (the chi_square_independence scalar-broadcast pattern).

    Scale shape: the corpus collapses once to per-value counts; GLOBAL
    average ranks come from a two-level distributed prefix sum (cumulative
    over ~max(v)/16 bucket totals, then a within-bucket cumulative window
    partitioned by bucket) so no window ever sees more than one bucket's
    values in a single task — the textbook parallel scan, exact to the
    half-integer. Rank sums are exact (< 2^53); only z-scale outputs
    round. The bucket-total cumulative IS a single task, but over a
    bounded handful of rows (value_range/16)."""
    e = load_table(spark, sf_dir, "events")
    cnt_v = e.groupBy(
        F.col("value").alias("v"),
        F.floor(F.col("value") / 16).cast("int").alias("bucket"),
    ).agg(F.count("*").alias("tc"))
    wb = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    bucket_cum = (
        cnt_v.groupBy("bucket")
        .agg(F.sum("tc").alias("bc"))
        .select("bucket", F.coalesce(F.sum("bc").over(wb), F.lit(0)).alias("below_bucket"))
    )
    wv = Window.partitionBy("bucket").orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    ranked = cnt_v.join(F.broadcast(bucket_cum), "bucket").select(
        "v",
        "tc",
        (
            F.col("below_bucket")
            + F.coalesce(F.sum("tc").over(wv), F.lit(0))
            + (F.col("tc") + 1) / 2.0
        ).alias("rank_avg"),
    )
    pg = e.groupBy(F.col("value").alias("v"), "event_type").agg(F.count("*").alias("gc"))
    groups = (
        pg.join(ranked.select("v", "rank_avg"), "v")
        .groupBy("event_type")
        .agg(
            F.sum("gc").cast("double").alias("ng"),
            F.sum(F.col("gc") * F.col("rank_avg")).alias("rg"),
        )
    )
    s1 = groups.agg(
        F.sum(F.col("rg") * F.col("rg") / F.col("ng")).alias("s_rr"),
        F.count("*").alias("k"),
    )
    tc = F.col("tc")
    s2 = cnt_v.agg(
        F.sum("tc").cast("double").alias("n"),
        F.sum((tc * tc * tc - tc).cast("double")).alias("ties"),
    )
    n, s_rr, ties = F.col("n"), F.col("s_rr"), F.col("ties")
    h = (12.0 / (n * (n + 1)) * s_rr - 3 * (n + 1)) / (1 - ties / (n * n * n - n))
    return (
        groups.crossJoin(F.broadcast(s1))
        .crossJoin(F.broadcast(s2))
        .select(
            "event_type",
            F.col("ng").cast("long").alias("n"),
            F.round("rg", 1).alias("rank_sum"),
            F.round(F.col("rg") / F.col("ng"), 6).alias("mean_rank"),
            F.round(h, 6).alias("h_stat"),
            (F.col("k") - 1).cast("int").alias("dof"),
        )
    )


@register(
    "mann_kendall_trend",
    # Mann-Kendall monotone-trend test (Mann 1945, Kendall 1975) per
    # event-type daily-count series: S = sum of sign(x_j - x_i) over all
    # day pairs i < j, tie-corrected variance
    # (n(n-1)(2n+5) - sum t(t-1)(2t+5))/18, and the continuity-corrected
    # z. The hypothesis-test companion to `theil_sen_trend`'s slope
    # estimate (the two are the classic published pairing).
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
             CAST(COUNT(*) AS DOUBLE) AS x
      FROM events GROUP BY 1, 2
    ),
    s AS (
      SELECT a.event_type, SUM(SIGN(b.x - a.x)) AS s_stat
      FROM daily a JOIN daily b
        ON a.event_type = b.event_type AND a.day < b.day
      GROUP BY a.event_type
    ),
    nn AS (SELECT event_type, CAST(COUNT(*) AS DOUBLE) AS n FROM daily GROUP BY event_type),
    ties AS (
      SELECT event_type, SUM(t * (t - 1) * (2 * t + 5)) AS tie_sum
      FROM (SELECT event_type, CAST(COUNT(*) AS DOUBLE) AS t FROM daily GROUP BY event_type, x)
      GROUP BY event_type
    ),
    v AS (
      SELECT nn.event_type, nn.n, s.s_stat,
             (nn.n * (nn.n - 1) * (2 * nn.n + 5) - ties.tie_sum) / 18.0 AS var_s
      FROM nn JOIN s ON nn.event_type = s.event_type
              JOIN ties ON nn.event_type = ties.event_type
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_days,
           CAST(s_stat AS BIGINT) AS s_stat, ROUND(var_s, 4) AS var_s,
           ROUND(CASE WHEN s_stat > 0 THEN (s_stat - 1) / sqrt(var_s)
                      WHEN s_stat < 0 THEN (s_stat + 1) / sqrt(var_s)
                      ELSE 0.0 END, 6) AS z_stat
    FROM v
    """,
    tags=("stats", "temporal", "trend", "nonparametric"),
)
def mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test per event-type daily-count series: exact
    integer S from all within-series day pairs, tie-corrected variance,
    continuity-corrected z — the significance test that pairs with
    `theil_sen_trend`'s robust slope (both enumerate the same bounded
    within-series pair set, never across series).

    Scale shape: one bounded daily rollup (series x days), pair
    enumeration via a self-join keyed on event_type (each series' pairs
    stay in one shuffle partition's sort — days^2 per series, days ~ 30),
    and three bounded aggregations joined on the series key. S and the
    tie counts are exact integers; var_s/z round at 4/6dp."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", utc_day("ts").alias("day")
    ).agg(F.count("*").cast("double").alias("x"))
    a, b = daily.alias("a"), daily.alias("b")
    s = (
        a.join(
            b,
            (F.col("a.event_type") == F.col("b.event_type")) & (F.col("a.day") < F.col("b.day")),
        )
        .groupBy(F.col("a.event_type").alias("event_type"))
        .agg(F.sum(F.signum(F.col("b.x") - F.col("a.x"))).alias("s_stat"))
    )
    nn = daily.groupBy("event_type").agg(F.count("*").cast("double").alias("n"))
    t = F.col("t")
    ties = (
        daily.groupBy("event_type", "x")
        .agg(F.count("*").cast("double").alias("t"))
        .groupBy("event_type")
        .agg(F.sum(t * (t - 1) * (2 * t + 5)).alias("tie_sum"))
    )
    v = nn.join(s, "event_type").join(ties, "event_type")
    n, s_stat = F.col("n"), F.col("s_stat")
    var_s = (n * (n - 1) * (2 * n + 5) - F.col("tie_sum")) / 18.0
    z = (
        F.when(s_stat > 0, (s_stat - 1) / F.sqrt(var_s))
        .when(s_stat < 0, (s_stat + 1) / F.sqrt(var_s))
        .otherwise(F.lit(0.0))
    )
    return v.select(
        "event_type",
        n.cast("long").alias("n_days"),
        s_stat.cast("long").alias("s_stat"),
        F.round(var_s, 4).alias("var_s"),
        F.round(z, 6).alias("z_stat"),
    )


@register(
    "jackknife_cv_se",
    # Delete-1 jackknife (Quenouille 1956, Tukey 1958) for the coefficient
    # of variation of each event type's daily-mean series — the CV is a
    # nonlinear statistic whose naive plug-in SE is biased, which is
    # exactly what the jackknife corrects. Each leave-one-out replicate is
    # computed from sufficient statistics (n, Σx, Σx²) minus the held-out
    # day, so the full replicate set costs O(n) per series, never an n²
    # rescan.
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
             AVG(value) AS x
      FROM events GROUP BY 1, 2
    ),
    suff AS (
      SELECT event_type, CAST(COUNT(*) AS DOUBLE) AS n,
             SUM(x) AS s1, SUM(x * x) AS s2
      FROM daily GROUP BY event_type
    ),
    loo AS (
      SELECT d.event_type, s.n,
             sqrt(((s.s2 - d.x * d.x) - (s.s1 - d.x) * (s.s1 - d.x) / (s.n - 1)) / (s.n - 2))
               / ((s.s1 - d.x) / (s.n - 1)) AS cv_i
      FROM daily d JOIN suff s ON d.event_type = s.event_type
    ),
    full_cv AS (
      SELECT event_type,
             sqrt((s2 - s1 * s1 / n) / (n - 1)) / (s1 / n) AS cv_full
      FROM suff
    )
    SELECT l.event_type, CAST(ANY_VALUE(l.n) AS BIGINT) AS n_days,
           ROUND(ANY_VALUE(f.cv_full), 6) AS cv_full,
           ROUND(sqrt((ANY_VALUE(l.n) - 1) / ANY_VALUE(l.n)
                 * SUM((l.cv_i - sub.cv_bar) * (l.cv_i - sub.cv_bar))), 6) AS jack_se,
           ROUND((ANY_VALUE(l.n) - 1) * (sub.cv_bar - ANY_VALUE(f.cv_full)), 6) AS jack_bias
    FROM loo l
    JOIN full_cv f ON l.event_type = f.event_type
    JOIN (SELECT event_type, AVG(cv_i) AS cv_bar FROM loo GROUP BY event_type) sub
      ON l.event_type = sub.event_type
    GROUP BY l.event_type, sub.cv_bar
    """,
    tags=("stats", "resampling", "jackknife"),
)
def jackknife_cv_se(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-1 jackknife standard error and bias estimate for the CV of
    each event type's daily-mean series — the resampling-inference
    primitive beside the closed-form tests (`mann_whitney_u`, `ks_test`):
    for statistics without tractable SEs the jackknife is the published
    distributed recipe, and it composes entirely from sufficient
    statistics so replicates never rescan the data.

    Scale shape: one bounded daily rollup, one (n, Σx, Σx²) aggregate per
    series broadcast back onto its days, every leave-one-out CV computed
    row-locally from those sufficient statistics, then one bounded
    closing aggregation — O(series × days) total, no pair join. All
    inputs to the 6dp-rounded outputs are few-term double sums."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy("event_type", utc_day("ts").alias("day")).agg(F.avg("value").alias("x"))
    suff = daily.groupBy("event_type").agg(
        F.count("*").cast("double").alias("n"),
        F.sum("x").alias("s1"),
        F.sum(F.col("x") * F.col("x")).alias("s2"),
    )
    n, s1, s2, x = F.col("n"), F.col("s1"), F.col("s2"), F.col("x")
    loo = daily.join(F.broadcast(suff), "event_type").select(
        "event_type",
        "n",
        (
            F.sqrt(((s2 - x * x) - (s1 - x) * (s1 - x) / (n - 1)) / (n - 2))
            / ((s1 - x) / (n - 1))
        ).alias("cv_i"),
    )
    full_cv = suff.select(
        "event_type",
        (F.sqrt((s2 - s1 * s1 / n) / (n - 1)) / (s1 / n)).alias("cv_full"),
    )
    cv_bar = loo.groupBy("event_type").agg(F.avg("cv_i").alias("cv_bar"))
    d = F.col("cv_i") - F.col("cv_bar")
    return (
        loo.join(F.broadcast(full_cv), "event_type")
        .join(F.broadcast(cv_bar), "event_type")
        .groupBy("event_type", "cv_bar")
        .agg(
            F.first("n").cast("long").alias("n_days"),
            F.round(F.first("cv_full"), 6).alias("cv_full"),
            F.round(F.sqrt((F.first("n") - 1) / F.first("n") * F.sum(d * d)), 6).alias("jack_se"),
            F.round((F.first("n") - 1) * (F.first("cv_bar") - F.first("cv_full")), 6).alias("jack_bias"),
        )
        .drop("cv_bar")
    )


# Poisson(1) inverse-CDF thresholds (cumulative probabilities for k=0..5);
# weights above the last threshold get 6. Shared verbatim by both engines.
_POIS1_CDF = (0.3678794412, 0.7357588823, 0.9196986029, 0.9810118431, 0.9963401532, 0.9994058151)


def _pois1_case_sql(u: str) -> str:
    cases = " ".join(
        f"WHEN {u} < {t} THEN {k}" for k, t in enumerate(_POIS1_CDF)
    )
    return f"CASE {cases} ELSE 6 END"


@register(
    "bootstrap_ci",
    # Poisson bootstrap (the distributed-systems bootstrap: per-row
    # Poisson(1) weights instead of multinomial resampling — Chamandy et
    # al., Google 2012, "Estimating Uncertainty for Massive Data Streams")
    # for the mean of each event type's daily means: B=100 deterministic
    # replicates whose weights come from md5(series:day:b) inverse-CDF
    # draws, nearest-rank 2.5%/97.5% percentile CI.
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
             AVG(value) AS x
      FROM events GROUP BY 1, 2
    ),
    reps AS (SELECT UNNEST(range(0, 100)) AS b),
    weighted AS (
      SELECT d.event_type, r.b, d.x,
             {_pois1_case_sql("(CAST(('0x' || substr(md5(d.event_type || ':' || CAST(d.day AS VARCHAR) || ':' || CAST(r.b AS VARCHAR)), 1, 15)) AS BIGINT) % 1000000) / 1000000.0")} AS w
      FROM daily d CROSS JOIN reps r
    ),
    repmean AS (
      SELECT event_type, b, SUM(w * x) / SUM(w) AS m
      FROM weighted GROUP BY event_type, b HAVING SUM(w) > 0
    ),
    ranked AS (
      SELECT event_type, m,
             row_number() OVER (PARTITION BY event_type ORDER BY m, b) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS nb
      FROM repmean
    ),
    fullmean AS (SELECT event_type, AVG(x) AS mean_full FROM daily GROUP BY event_type)
    SELECT f.event_type, CAST(ANY_VALUE(r.nb) AS BIGINT) AS n_reps,
           ROUND(ANY_VALUE(f.mean_full), 6) AS mean_full,
           ROUND(MAX(CASE WHEN r.rn = CAST(ceil(0.025 * r.nb) AS BIGINT) THEN r.m END), 6) AS ci_lo,
           ROUND(MAX(CASE WHEN r.rn = CAST(ceil(0.975 * r.nb) AS BIGINT) THEN r.m END), 6) AS ci_hi
    FROM ranked r JOIN fullmean f ON r.event_type = f.event_type
    GROUP BY f.event_type
    """,
    tags=("stats", "resampling", "bootstrap"),
)
def bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap percentile CI for each event type's mean of daily
    means — the published scale-out bootstrap: instead of materializing B
    resamples, every (row, replicate) pair draws a Poisson(1) weight, so
    replicates are a bounded ×B fan-out over the (already bounded) daily
    rollup and each replicate mean is one weighted aggregation. Weights
    are DETERMINISTIC md5(series:day:replicate) inverse-CDF draws (the
    `countmin_heavy_hitters` cross-engine hashing idiom), so both engines
    build the byte-identical replicate set — no RNG in either engine.
    Completes the resampling family beside `jackknife_cv_se` (delete-1
    analytic) with the percentile-interval flavor.

    Scale shape: corpus collapses once to series×days; the ×100 replicate
    fan-out applies to that bounded table, never the corpus; one
    aggregation per grain after that. Nearest-rank percentiles (ranks
    ceil(0.025 B)/ceil(0.975 B), tie-broken by replicate id) avoid
    interpolation-convention drift between engines."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy("event_type", utc_day("ts").alias("day")).agg(F.avg("value").alias("x"))
    reps = spark.range(0, 100).select(F.col("id").alias("b"))
    u = _replicate_uniform()
    w = F.lit(6)
    for k in range(len(_POIS1_CDF) - 1, -1, -1):
        w = F.when(u < _POIS1_CDF[k], F.lit(k)).otherwise(w)
    weighted = daily.crossJoin(F.broadcast(reps)).select(
        "event_type", "b", "x", w.alias("w")
    )
    repmean = (
        weighted.groupBy("event_type", "b")
        .agg(F.sum(F.col("w") * F.col("x")).alias("sw"), F.sum("w").alias("tw"))
        .filter(F.col("tw") > 0)
        .select("event_type", "b", (F.col("sw") / F.col("tw")).alias("m"))
    )
    wr = Window.partitionBy("event_type").orderBy("m", "b")
    wp = Window.partitionBy("event_type")
    ranked = repmean.select(
        "event_type", "m",
        F.row_number().over(wr).alias("rn"),
        F.count("*").over(wp).alias("nb"),
    )
    fullmean = daily.groupBy("event_type").agg(F.avg("x").alias("mean_full"))
    lo_rn = F.ceil(0.025 * F.col("nb")).cast("long")
    hi_rn = F.ceil(0.975 * F.col("nb")).cast("long")
    return (
        ranked.join(F.broadcast(fullmean), "event_type")
        .groupBy("event_type")
        .agg(
            F.first("nb").cast("long").alias("n_reps"),
            F.round(F.first("mean_full"), 6).alias("mean_full"),
            F.round(F.max(F.when(F.col("rn") == lo_rn, F.col("m"))), 6).alias("ci_lo"),
            F.round(F.max(F.when(F.col("rn") == hi_rn, F.col("m"))), 6).alias("ci_hi"),
        )
    )


@register(
    "kaplan_meier_retention",
    # Kaplan-Meier product-limit estimator (Kaplan & Meier 1958 JASA) on
    # time-to-first-purchase: duration = WHOLE HOURS between a user's
    # first event and their first purchase, with ADMINISTRATIVE
    # right-censoring at the 48-hour horizon (users converting later are
    # censored at t=48, the standard fixed-horizon design) — at every SF
    # both the event and censor branches are heavily populated
    # (10/5 at sf0.001, 111/39, 1002/498). Hours via
    # floor(whole-second-delta/3600) in BOTH engines: DuckDB
    # date_diff('second') counts second boundaries, which equals Spark's
    # unix_timestamp difference (both truncate sub-second parts;
    # DuckDB epoch() would keep the fraction and shift hour boundaries,
    # and date_diff('hour') counts hour boundaries, not complete hours). S(t) multiplies (1 - d/n) over
    # event times <= t — computed as exp(cumsum(ln ...)) in both engines
    # so the product convention is identical.
    oracle="""
    WITH users AS (
      SELECT user_id,
             CAST(FLOOR(date_diff('second', MIN(CAST(ts AS TIMESTAMP)),
                                  MIN(CASE WHEN event_type = 'purchase'
                                           THEN CAST(ts AS TIMESTAMP) END)) / 3600.0)
                  AS BIGINT) AS h
      FROM events GROUP BY user_id
    ),
    dur AS (
      SELECT user_id,
             CASE WHEN h <= 48 THEN h ELSE 48 END AS t,
             CASE WHEN h <= 48 THEN 1 ELSE 0 END AS ev
      FROM users
    ),
    att AS (
      SELECT t, CAST(SUM(ev) AS BIGINT) AS d,
             CAST(SUM(1 - ev) AS BIGINT) AS c, COUNT(*) AS tot
      FROM dur GROUP BY t
    ),
    risk AS (
      SELECT t, d, c,
             SUM(tot) OVER (ORDER BY t DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_risk
      FROM att
    ),
    surv AS (
      SELECT t, d, c, n_risk,
             EXP(SUM(LN(1 - CAST(d AS DOUBLE) / n_risk)) OVER (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS s_t
      FROM risk
    )
    SELECT CAST(t AS INT) AS duration_hours, CAST(n_risk AS BIGINT) AS n_risk,
           d AS d_events, c AS n_censored, ROUND(s_t, 6) AS s_t
    FROM surv WHERE d > 0
    """,
    tags=("stats", "survival", "kaplan-meier", "temporal"),
)
def kaplan_meier_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve for time-to-first-purchase with
    administrative right-censoring at a 48-hour horizon — the canonical
    time-to-event estimator that a naive "mean hours to convert"
    aggregation gets wrong in the presence of not-yet-converted users:
    conversions later than the horizon are censored at t=48 and keep
    contributing to risk sets without counting as events. Output is the
    standard KM table (time, risk set, events, censored, S(t)) at event
    times; the censor branch is heavily populated at every SF (5 of 15
    users at sf0.001, 498 of 1500 at sf0.1), so the estimator is
    non-vacuous — the first draft censored on last-event recency, which
    the data never triggers (every user is active through the window's
    end), yielding an empty curve; caught by the vanilla driver drive.

    Scale shape: one user-grain aggregation (the only corpus-volume
    shuffle), then everything lives on the bounded distinct-duration
    table (<= 49 rows): the reverse-cumulative risk set and the
    cumulative log-product are single-task windows over that bounded
    table by construction. Durations are floor(whole-second-delta/3600)
    in both engines (unix_timestamp and date_diff('second') both
    truncate sub-second parts identically); the survival product is exp(Σ ln(1 - d/n)) in BOTH
    engines, so product associativity can't drift."""
    dur = _purchase_durations(load_table(spark, sf_dir, "events"))
    att = dur.groupBy("t").agg(
        F.sum("ev").cast("long").alias("d"),
        F.sum(1 - F.col("ev")).cast("long").alias("c"),
        F.count("*").alias("tot"),
    )
    wdesc = Window.orderBy(F.desc("t")).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    risk = att.select("t", "d", "c", F.sum("tot").over(wdesc).alias("n_risk"))
    wasc = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    surv = risk.select(
        "t", "d", "c", "n_risk",
        F.exp(F.sum(F.log(1 - F.col("d").cast("double") / F.col("n_risk"))).over(wasc)).alias("s_t"),
    )
    return surv.filter(F.col("d") > 0).select(
        F.col("t").cast("int").alias("duration_hours"),
        F.col("n_risk").cast("long").alias("n_risk"),
        F.col("d").alias("d_events"),
        F.col("c").alias("n_censored"),
        F.round("s_t", 6).alias("s_t"),
    )


@register(
    "mutual_information_assoc",
    # Information-theoretic and normalized association measures on the
    # event_type x day-of-week contingency table: mutual information in
    # nats, normalized MI (arithmetic-mean normalization,
    # MI / ((H_row + H_col)/2)), and Cramér's V from the chi-square
    # statistic — the three standard strengths-of-association that
    # `chi_square_independence` (a significance test) does not report.
    oracle="""
    WITH obs AS (
      SELECT event_type, dayofweek(CAST(ts AS TIMESTAMP)) + 1 AS dow,
             CAST(COUNT(*) AS DOUBLE) AS o
      FROM events GROUP BY 1, 2
    ),
    tot AS (
      SELECT event_type, dow, o,
             SUM(o) OVER (PARTITION BY event_type) AS row_tot,
             SUM(o) OVER (PARTITION BY dow) AS col_tot,
             SUM(o) OVER () AS n
      FROM obs
    ),
    parts AS (
      SELECT n,
             SUM((o / n) * LN(o * n / (row_tot * col_tot))) AS mi,
             SUM((o - row_tot * col_tot / n) * (o - row_tot * col_tot / n)
                 / (row_tot * col_tot / n)) AS chi2,
             COUNT(DISTINCT event_type) AS r, COUNT(DISTINCT dow) AS c
      FROM tot GROUP BY n
    ),
    ents AS (
      SELECT
        (SELECT -SUM(p * LN(p)) FROM (
           SELECT SUM(o) / ANY_VALUE(n) AS p FROM tot GROUP BY event_type)) AS h_row,
        (SELECT -SUM(p * LN(p)) FROM (
           SELECT SUM(o) / ANY_VALUE(n) AS p FROM tot GROUP BY dow)) AS h_col
    )
    SELECT CAST(p.n AS BIGINT) AS n,
           ROUND(p.mi, 6) AS mi_nats,
           ROUND(p.mi / ((e.h_row + e.h_col) / 2), 6) AS nmi,
           ROUND(sqrt(p.chi2 / (p.n * (LEAST(p.r, p.c) - 1))), 6) AS cramers_v
    FROM parts p CROSS JOIN ents e
    """,
    tags=("stats", "information", "association"),
)
def mutual_information_assoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information (nats), normalized MI and Cramér's V for the
    event_type x day-of-week association — the effect-size companions to
    `chi_square_independence`'s significance test, and the feature-
    selection primitives (MI ranking) of a training-data pipeline.

    Scale shape: identical to the chi-square query — one bounded
    contingency aggregation, marginals via windows over the bounded cell
    table, 1-row output. The entropy sums and MI are few-term double
    aggregations rounding at 6dp.

    Note the subtle window-vs-groupBy interplay: marginal entropies are
    computed by re-aggregating the cell table per axis, not by windowing,
    so each probability is summed exactly once."""
    e = load_table(spark, sf_dir, "events")
    obs = e.groupBy("event_type", F.dayofweek("ts").alias("dow")).agg(
        F.count("*").cast("double").alias("o")
    )
    tot = contingency_margins(obs, "event_type", "dow", "o")
    exp_ = F.col("row_tot") * F.col("col_tot") / F.col("n")
    parts = tot.groupBy("n").agg(
        F.sum((F.col("o") / F.col("n")) * F.log(F.col("o") * F.col("n") / (F.col("row_tot") * F.col("col_tot")))).alias("mi"),
        F.sum((F.col("o") - exp_) * (F.col("o") - exp_) / exp_).alias("chi2"),
        F.countDistinct("event_type").alias("r"),
        F.countDistinct("dow").alias("c"),
    )
    h_row = (
        tot.groupBy("event_type")
        .agg((F.sum("o") / F.first("n")).alias("p"))
        .agg((-F.sum(F.col("p") * F.log("p"))).alias("h_row"))
    )
    h_col = (
        tot.groupBy("dow")
        .agg((F.sum("o") / F.first("n")).alias("p"))
        .agg((-F.sum(F.col("p") * F.log("p"))).alias("h_col"))
    )
    return (
        parts.crossJoin(F.broadcast(h_row))
        .crossJoin(F.broadcast(h_col))
        .select(
            F.col("n").cast("long").alias("n"),
            F.round("mi", 6).alias("mi_nats"),
            F.round(F.col("mi") / ((F.col("h_row") + F.col("h_col")) / 2), 6).alias("nmi"),
            F.round(F.sqrt(F.col("chi2") / (F.col("n") * (F.least("r", "c") - 1))), 6).alias("cramers_v"),
        )
    )


@register(
    "proportions_ab_test",
    # Two-proportion pooled z-test (the A/B-testing workhorse) on
    # heavy-purchaser conversion (>= 15 purchases — interior rates at
    # every SF; "any purchase" converts 100% of these users, which
    # degenerates pp to 1 and the pooled variance to 0, a division the
    # driver's ANSI session turns into a crash) between the
    # user_id-parity arms: per-arm user counts, converters and rates,
    # plus the pooled z and absolute rate difference on every row (1-row
    # broadcast scalar pattern). The z denominator is NULL-guarded in
    # both engines for the degenerate all-or-none pp.
    oracle="""
    WITH arms AS (
      SELECT user_id, CAST(user_id % 2 AS INT) AS arm,
             CASE WHEN SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) >= 15
                  THEN 1 ELSE 0 END AS conv
      FROM events GROUP BY user_id
    ),
    per AS (
      SELECT arm, CAST(COUNT(*) AS DOUBLE) AS n, CAST(SUM(conv) AS DOUBLE) AS k
      FROM arms GROUP BY arm
    ),
    z AS (
      SELECT (MAX(CASE WHEN arm = 1 THEN k / n END)
              - MAX(CASE WHEN arm = 0 THEN k / n END)) AS diff,
             SUM(k) / SUM(n) AS pp,
             MAX(CASE WHEN arm = 0 THEN n END) AS n0,
             MAX(CASE WHEN arm = 1 THEN n END) AS n1
      FROM per
    )
    SELECT p.arm, CAST(p.n AS BIGINT) AS n_users, CAST(p.k AS BIGINT) AS n_converted,
           ROUND(p.k / p.n, 6) AS rate,
           ROUND(z.diff, 6) AS rate_diff,
           ROUND(CASE WHEN z.pp * (1 - z.pp) > 0
                 THEN z.diff / sqrt(z.pp * (1 - z.pp) * (1 / z.n0 + 1 / z.n1)) END, 6) AS z_stat
    FROM per p CROSS JOIN z
    """,
    tags=("stats", "ab-test", "proportions"),
)
def proportions_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion pooled z-test for heavy-purchaser conversion
    (>= 15 purchases) between the two user_id-parity arms — the A/B
    experimentation primitive beside the distributional (`pairwise_ks`),
    rank (`mann_whitney_u`) and mean (`start_vs_end_test`) comparisons:
    per-arm conversion rates with the pooled-variance z and the absolute
    lift on each row. "Any purchase" is NOT the metric: it converts
    every user in this data, making pp = 1 and the pooled variance 0 —
    the driver's ANSI session crashes on that division (caught by the
    vanilla driver drive), so the threshold keeps rates interior and
    the z denominator is NULL-guarded anyway.

    Scale shape: one user-grain conversion rollup (the only
    corpus-volume shuffle — SUM over a CASE, map-side combinable), a
    2-row arm aggregate, and a 1-row broadcast scalar. Counts are exact;
    rates/z round at 6dp."""
    e = load_table(spark, sf_dir, "events")
    arms = e.groupBy("user_id").agg(
        F.when(
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)) >= 15, 1
        ).otherwise(0).alias("conv")
    ).select((F.col("user_id") % 2).cast("int").alias("arm"), "conv")
    per = arms.groupBy("arm").agg(
        F.count("*").cast("double").alias("n"),
        F.sum("conv").cast("double").alias("k"),
    )
    z = per.agg(
        (
            F.max(F.when(F.col("arm") == 1, F.col("k") / F.col("n")))
            - F.max(F.when(F.col("arm") == 0, F.col("k") / F.col("n")))
        ).alias("diff"),
        (F.sum("k") / F.sum("n")).alias("pp"),
        F.max(F.when(F.col("arm") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("arm") == 1, F.col("n"))).alias("n1"),
    )
    return per.crossJoin(F.broadcast(z)).select(
        "arm",
        F.col("n").cast("long").alias("n_users"),
        F.col("k").cast("long").alias("n_converted"),
        F.round(F.col("k") / F.col("n"), 6).alias("rate"),
        F.round("diff", 6).alias("rate_diff"),
        F.round(
            F.when(
                F.col("pp") * (1 - F.col("pp")) > 0,
                F.col("diff")
                / F.sqrt(F.col("pp") * (1 - F.col("pp")) * (1 / F.col("n0") + 1 / F.col("n1"))),
            ),
            6,
        ).alias("z_stat"),
    )


@register(
    "permutation_test_daily",
    # Monte-Carlo permutation test (Dwass 1957; cluster-permutation
    # flavor — the resampling unit is the DAY, the natural exchangeable
    # block for autocorrelated event data) for the difference in daily
    # mean value between 'click' and 'view': B=200 deterministic
    # relabelings assign each day to arm A with the observed day-count
    # proportion via md5(day:b) draws; p = (1 + #{|diff_b| >=
    # |diff_obs|}) / (B + 1), the standard add-one Monte-Carlo estimate.
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
             AVG(value) AS x
      FROM events WHERE event_type IN ('click', 'view') GROUP BY 1, 2
    ),
    obs AS (
      SELECT AVG(CASE WHEN event_type = 'click' THEN x END)
             - AVG(CASE WHEN event_type = 'view' THEN x END) AS d_obs,
             CAST(COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS DOUBLE)
               / COUNT(*) AS p_a
      FROM daily
    ),
    reps AS (SELECT UNNEST(range(0, 200)) AS b),
    relabeled AS (
      SELECT r.b, d.x,
             CASE WHEN (CAST(('0x' || substr(md5(d.event_type || ':' || CAST(d.day AS VARCHAR)
                        || ':' || CAST(r.b AS VARCHAR)), 1, 15)) AS BIGINT) % 1000000)
                       / 1000000.0 < o.p_a
                  THEN 1 ELSE 0 END AS arm_a
      FROM daily d CROSS JOIN reps r CROSS JOIN obs o
    ),
    perm AS (
      SELECT b,
             AVG(CASE WHEN arm_a = 1 THEN x END)
             - AVG(CASE WHEN arm_a = 0 THEN x END) AS d_b
      FROM relabeled GROUP BY b
      HAVING COUNT(CASE WHEN arm_a = 1 THEN 1 END) > 0
         AND COUNT(CASE WHEN arm_a = 0 THEN 1 END) > 0
    )
    SELECT ROUND(ANY_VALUE(o.d_obs), 6) AS obs_diff,
           CAST(COUNT(*) AS BIGINT) AS n_perms,
           CAST(SUM(CASE WHEN ABS(p.d_b) >= ABS(o.d_obs) THEN 1 ELSE 0 END) AS BIGINT)
             AS n_extreme,
           ROUND((1.0 + SUM(CASE WHEN ABS(p.d_b) >= ABS(o.d_obs) THEN 1 ELSE 0 END))
                 / (COUNT(*) + 1.0), 6) AS p_value
    FROM perm p CROSS JOIN obs o
    """,
    tags=("stats", "resampling", "permutation"),
)
def permutation_test_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monte-Carlo permutation test for the click-vs-view difference in
    daily mean value, permuting at the DAY grain — the third member of
    the resampling family (`jackknife_cv_se` analytic, `bootstrap_ci`
    percentile, permutation null-distribution), and the cluster-
    permutation variant is the honest one for autocorrelated event
    streams: relabeling individual events would break within-day
    dependence and overstate significance. Relabelings are DETERMINISTIC
    md5(series:day:replicate) Bernoulli draws at the observed arm
    proportion (Monte-Carlo randomization test); degenerate one-arm
    relabelings are excluded on both sides.

    Scale shape: corpus collapses once to the (2 series x days) rollup;
    the x200 replicate fan-out and every aggregation after it live on
    that bounded table. The p-value uses the add-one Monte-Carlo
    estimator, exact-integer counts over 6dp-stable comparisons."""
    e = load_table(spark, sf_dir, "events").filter(F.col("event_type").isin("click", "view"))
    daily = e.groupBy("event_type", utc_day("ts").alias("day")).agg(F.avg("value").alias("x"))
    obs = daily.agg(
        (
            F.avg(F.when(F.col("event_type") == "click", F.col("x")))
            - F.avg(F.when(F.col("event_type") == "view", F.col("x")))
        ).alias("d_obs"),
        (
            F.count(F.when(F.col("event_type") == "click", F.lit(1))).cast("double")
            / F.count("*")
        ).alias("p_a"),
    )
    reps = spark.range(0, 200).select(F.col("id").alias("b"))
    u = _replicate_uniform()
    relabeled = (
        daily.crossJoin(F.broadcast(reps))
        .crossJoin(F.broadcast(obs))
        .select(
            "b", "x",
            F.when(u < F.col("p_a"), 1).otherwise(0).alias("arm_a"),
        )
    )
    perm = (
        relabeled.groupBy("b")
        .agg(
            F.avg(F.when(F.col("arm_a") == 1, F.col("x"))).alias("ma"),
            F.avg(F.when(F.col("arm_a") == 0, F.col("x"))).alias("mb"),
            F.count(F.when(F.col("arm_a") == 1, F.lit(1))).alias("ca"),
            F.count(F.when(F.col("arm_a") == 0, F.lit(1))).alias("cb"),
        )
        .filter((F.col("ca") > 0) & (F.col("cb") > 0))
        .select("b", (F.col("ma") - F.col("mb")).alias("d_b"))
    )
    extreme = F.sum(
        F.when(F.abs(F.col("d_b")) >= F.abs(F.col("d_obs")), 1).otherwise(0)
    )
    return (
        perm.crossJoin(F.broadcast(obs))
        .agg(
            F.round(F.first("d_obs"), 6).alias("obs_diff"),
            F.count("*").cast("long").alias("n_perms"),
            extreme.cast("long").alias("n_extreme"),
            F.round((1.0 + extreme) / (F.count("*") + 1.0), 6).alias("p_value"),
        )
    )


@register(
    "welch_t_test",
    # Welch's unequal-variance t-test (Welch 1947) for every pair of
    # event types on `value`: per-pair mean difference, the Welch t
    # statistic and the Welch-Satterthwaite degrees of freedom. The
    # sample variance is spelled out as (sum_sq - n*mean^2)/(n-1) in
    # BOTH engines so the float op order is identical; the pair table is
    # bounded (types choose 2) and built by a broadcast self-join.
    oracle="""
    WITH per AS (
      SELECT event_type, CAST(COUNT(*) AS DOUBLE) AS n,
             AVG(value) AS m, SUM(value * value) AS ss
      FROM events GROUP BY event_type
    ),
    st AS (
      SELECT event_type, n, m, (ss - n * m * m) / (n - 1) AS v FROM per
    )
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           CAST(a.n AS BIGINT) AS n_a, CAST(b.n AS BIGINT) AS n_b,
           ROUND(a.m - b.m, 6) AS mean_diff,
           ROUND((a.m - b.m) / sqrt(a.v / a.n + b.v / b.n), 6) AS t_stat,
           ROUND(pow(a.v / a.n + b.v / b.n, 2)
                 / (pow(a.v / a.n, 2) / (a.n - 1) + pow(b.v / b.n, 2) / (b.n - 1)),
                 2) AS welch_dof
    FROM st a JOIN st b ON a.event_type < b.event_type
    """,
    tags=("stats", "t-test", "welch"),
)
def welch_t_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance two-sample t-test (Welch 1947) between
    every pair of event types on `value` — the mean-comparison
    counterpart of `mann_whitney_u` (ranks) and `pairwise_ks`
    (distributions), and unlike the pooled-variance Student t it stays
    valid when group variances differ (they do here: purchase values
    are a different scale than views). Emits the mean difference, t
    statistic, and the Welch-Satterthwaite effective dof per pair.

    Scale shape: ONE corpus-volume aggregation (map-side combinable
    count/avg/sum-of-squares per type), then all pair math on the
    bounded per-type table via a broadcast self-join (types choose 2
    rows). Variance uses the explicit (ss - n*m^2)/(n-1) form in both
    engines so parity is float-exact before the 6dp round."""
    e = load_table(spark, sf_dir, "events")
    per = e.groupBy("event_type").agg(
        F.count("*").cast("double").alias("n"),
        F.avg("value").alias("m"),
        F.sum(F.col("value") * F.col("value")).alias("ss"),
    )
    st = per.select(
        "event_type", "n", "m",
        ((F.col("ss") - F.col("n") * F.col("m") * F.col("m")) / (F.col("n") - 1)).alias("v"),
    )
    a, b = st.alias("a"), st.alias("b")
    va_na = F.col("a.v") / F.col("a.n")
    vb_nb = F.col("b.v") / F.col("b.n")
    se2 = va_na + vb_nb
    dof = F.pow(se2, 2) / (
        F.pow(va_na, 2) / (F.col("a.n") - 1) + F.pow(vb_nb, 2) / (F.col("b.n") - 1)
    )
    return a.join(F.broadcast(b), F.col("a.event_type") < F.col("b.event_type")).select(
        F.col("a.event_type").alias("type_a"),
        F.col("b.event_type").alias("type_b"),
        F.col("a.n").cast("long").alias("n_a"),
        F.col("b.n").cast("long").alias("n_b"),
        F.round(F.col("a.m") - F.col("b.m"), 6).alias("mean_diff"),
        F.round((F.col("a.m") - F.col("b.m")) / F.sqrt(se2), 6).alias("t_stat"),
        F.round(dof, 2).alias("welch_dof"),
    )


@register(
    "brown_forsythe_levene",
    # Brown-Forsythe robust variance-homogeneity test (Brown & Forsythe
    # 1974 — Levene's test with the group MEDIAN center): per-group
    # absolute deviation from the group median, then a one-way ANOVA F
    # over those deviations. Group medians are exact interpolated
    # percentiles in both engines; the F statistic and its dof ride on
    # every row via the 1-row broadcast scalar pattern.
    oracle="""
    WITH med AS (
      SELECT event_type, median(value) AS med FROM events GROUP BY event_type
    ),
    z AS (
      SELECT e.event_type, ABS(e.value - m.med) AS z
      FROM events e JOIN med m ON e.event_type = m.event_type
    ),
    per AS (
      SELECT event_type, CAST(COUNT(*) AS DOUBLE) AS n, AVG(z) AS mz
      FROM z GROUP BY event_type
    ),
    gl AS (
      SELECT CAST(SUM(n) AS DOUBLE) AS big_n, CAST(COUNT(*) AS DOUBLE) AS k,
             SUM(n * mz) / SUM(n) AS gm
      FROM per
    ),
    ssb AS (
      SELECT SUM(p.n * (p.mz - g.gm) * (p.mz - g.gm)) AS ssb
      FROM per p CROSS JOIN gl g
    ),
    ssw AS (
      SELECT SUM((z.z - p.mz) * (z.z - p.mz)) AS ssw
      FROM z JOIN per p ON z.event_type = p.event_type
    )
    SELECT p.event_type, CAST(p.n AS BIGINT) AS n,
           ROUND(p.mz, 6) AS mean_abs_dev,
           ROUND((b.ssb / (g.k - 1)) / (w.ssw / (g.big_n - g.k)), 6) AS f_stat,
           CAST(g.k - 1 AS INT) AS dof1, CAST(g.big_n - g.k AS BIGINT) AS dof2
    FROM per p CROSS JOIN gl g CROSS JOIN ssb b CROSS JOIN ssw w
    """,
    tags=("stats", "levene", "variance"),
)
def brown_forsythe_levene(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe test of variance homogeneity across event types
    (Brown & Forsythe 1974) — Levene's test with the group MEDIAN as the
    center, the robust default (R car::leveneTest's center=median): the
    gatekeeper assumption check for the pooled-variance tests beside
    `welch_t_test` (which drops the assumption instead). Per group:
    n and mean |value - group median|; on every row: the one-way ANOVA
    F over those absolute deviations with its two dof.

    Scale shape: one exact-percentile median per group (single shuffle,
    same ObjectHashAgg trade as `grouped_quantiles`), a broadcast
    median join back to the corpus, one deviation aggregation per
    group, and bounded scalar math (k rows) with 1-row broadcast
    cross joins — the corpus is scanned twice, shuffled by type twice,
    never more."""
    e = load_table(spark, sf_dir, "events")
    med = e.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    z = e.join(F.broadcast(med), "event_type").select(
        "event_type", F.abs(F.col("value") - F.col("med")).alias("z")
    )
    per = z.groupBy("event_type").agg(
        F.count("*").cast("double").alias("n"), F.avg("z").alias("mz")
    )
    gl = per.agg(
        F.sum("n").cast("double").alias("big_n"),
        F.count("*").cast("double").alias("k"),
        (F.sum(F.col("n") * F.col("mz")) / F.sum("n")).alias("gm"),
    )
    ssb = per.crossJoin(F.broadcast(gl)).agg(
        F.sum(F.col("n") * (F.col("mz") - F.col("gm")) * (F.col("mz") - F.col("gm"))).alias("ssb")
    )
    ssw = z.join(F.broadcast(per), "event_type").agg(
        F.sum((F.col("z") - F.col("mz")) * (F.col("z") - F.col("mz"))).alias("ssw")
    )
    f_stat = (F.col("ssb") / (F.col("k") - 1)) / (F.col("ssw") / (F.col("big_n") - F.col("k")))
    return (
        per.crossJoin(F.broadcast(gl)).crossJoin(F.broadcast(ssb)).crossJoin(F.broadcast(ssw))
        .select(
            "event_type",
            F.col("n").cast("long").alias("n"),
            F.round("mz", 6).alias("mean_abs_dev"),
            F.round(f_stat, 6).alias("f_stat"),
            (F.col("k") - 1).cast("int").alias("dof1"),
            (F.col("big_n") - F.col("k")).cast("long").alias("dof2"),
        )
    )


@register(
    "fisher_exact_priority_late",
    # Fisher's exact test (Fisher 1935) on the 2x2 table of order
    # priority (urgent = 1-URGENT/2-HIGH) x slow fulfillment (any line
    # shipped > 90 days after the order date): exact two-sided p, the sum of
    # hypergeometric point probabilities <= the observed one (R
    # fisher.test's criterion incl. its 1+1e-7 tolerance), via lgamma
    # summation over the bounded support in BOTH engines (Spark: the
    # Arrow-batched lgamma pandas_udf family of `ora_enrichment`;
    # DuckDB: list_transform over the same support range).
    oracle="""
    WITH flags AS (
      SELECT o.o_orderkey,
             CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END AS urgent,
             MAX(CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY THEN 1 ELSE 0 END) AS late
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      GROUP BY 1, 2
    ),
    cells AS (
      SELECT CAST(SUM(urgent * late) AS BIGINT) AS a,
             CAST(SUM(urgent * (1 - late)) AS BIGINT) AS b,
             CAST(SUM((1 - urgent) * late) AS BIGINT) AS c,
             CAST(SUM((1 - urgent) * (1 - late)) AS BIGINT) AS d
      FROM flags
    ),
    marg AS (
      SELECT a, b, c, d, a + b AS kk, a + c AS nn, a + b + c + d AS mm FROM cells
    ),
    pobs AS (
      SELECT *,
             exp(lgamma(kk + 1.0) - lgamma(a + 1.0) - lgamma(kk - a + 1.0)
                 + lgamma(mm - kk + 1.0) - lgamma(nn - a + 1.0) - lgamma(mm - kk - nn + a + 1.0)
                 - (lgamma(mm + 1.0) - lgamma(nn + 1.0) - lgamma(mm - nn + 1.0))) AS p_obs
      FROM marg
    )
    SELECT a AS n_urgent_late, b AS n_urgent_ontime,
           c AS n_other_late, d AS n_other_ontime,
           ROUND(CASE WHEN b * c > 0 THEN CAST(a AS DOUBLE) * d / (CAST(b AS DOUBLE) * c) END, 6)
             AS odds_ratio,
           ROUND(LEAST(1.0, list_sum(list_transform(
             range(GREATEST(0, kk + nn - mm), LEAST(kk, nn) + 1),
             x -> CASE WHEN exp(lgamma(kk + 1.0) - lgamma(x + 1.0) - lgamma(kk - x + 1.0)
                            + lgamma(mm - kk + 1.0) - lgamma(nn - x + 1.0)
                            - lgamma(mm - kk - nn + x + 1.0)
                            - (lgamma(mm + 1.0) - lgamma(nn + 1.0) - lgamma(mm - nn + 1.0)))
                        <= p_obs * (1.0 + 1e-7)
                  THEN exp(lgamma(kk + 1.0) - lgamma(x + 1.0) - lgamma(kk - x + 1.0)
                           + lgamma(mm - kk + 1.0) - lgamma(nn - x + 1.0)
                           - lgamma(mm - kk - nn + x + 1.0)
                           - (lgamma(mm + 1.0) - lgamma(nn + 1.0) - lgamma(mm - nn + 1.0)))
                  ELSE 0.0 END))), 6) AS p_two_sided
    FROM pobs
    """,
    tags=("stats", "fisher", "exact-test"),
)
def fisher_exact_priority_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fisher's exact test (Fisher 1935) of association between order
    priority (urgent vs other) and slow fulfillment (any line shipped
    more than 90 days after the order date) — the small-margin-exact sibling of
    `chi_square_independence` (whose chi-square approximation degrades
    exactly when Fisher is needed) and the two-sided completion of the
    one-sided hypergeometric machinery in `ora_enrichment`. Emits the
    2x2 cells, the sample odds ratio (NULL-guarded when b*c = 0), and
    the exact two-sided p via lgamma summation over the bounded
    hypergeometric support — R fisher.test's "all tables at most as
    probable" criterion with its 1e-7 relative tolerance.

    Scale shape: one order-grain late-flag rollup (the only
    corpus-volume shuffle, map-side combinable MAX), a single 4-cell
    aggregate, then scalar math on ONE row — the pandas_udf evaluates
    one lgamma sum over a support bounded by the smaller table margin,
    identical in both engines."""
    from utils_spark.operators.enrichment import _fisher_two_sided_udf

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    flags = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy(
            "o_orderkey",
            F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1).otherwise(0).alias("urgent"),
        )
        .agg(
            F.max(
                F.when(F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 90), 1).otherwise(0)
            ).alias("late")
        )
    )
    cells = flags.agg(
        F.sum(F.col("urgent") * F.col("late")).cast("long").alias("a"),
        F.sum(F.col("urgent") * (1 - F.col("late"))).cast("long").alias("b"),
        F.sum((1 - F.col("urgent")) * F.col("late")).cast("long").alias("c"),
        F.sum((1 - F.col("urgent")) * (1 - F.col("late"))).cast("long").alias("d"),
    )
    ad = F.col("a").cast("double") * F.col("d")
    bc = F.col("b").cast("double") * F.col("c")
    return cells.select(
        F.col("a").alias("n_urgent_late"),
        F.col("b").alias("n_urgent_ontime"),
        F.col("c").alias("n_other_late"),
        F.col("d").alias("n_other_ontime"),
        F.round(F.when(bc > 0, ad / bc), 6).alias("odds_ratio"),
        F.round(_fisher_two_sided_udf("a", "b", "c", "d"), 6).alias("p_two_sided"),
    )


@register(
    "wilcoxon_signed_rank",
    # Wilcoxon signed-rank test (Wilcoxon 1945) per event type on
    # matched day pairs: day i of the first half paired with day i of
    # the second half (i-th by day order), d = second - first, zero
    # diffs dropped, |d| ranked with AVERAGE ranks, W+ = sum of ranks
    # of positive diffs, and the normal approximation
    # z = (W+ - n(n+1)/4) / sqrt(n(n+1)(2n+1)/24 - sum(t^3 - t)/48)
    # with the standard tie correction (computed per-row as
    # (t^2 - 1)/48, which sums to (t^3 - t)/48 per tie group). The
    # PAIRED complement of mann_whitney_u (independent samples).
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
             AVG(value) AS v
      FROM events GROUP BY 1, 2
    ),
    idx AS (
      SELECT event_type, v,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS i,
             COUNT(*) OVER (PARTITION BY event_type) AS nn
      FROM daily
    ),
    pairs AS (
      SELECT a.event_type, b.v - a.v AS d
      FROM idx a JOIN idx b
        ON a.event_type = b.event_type AND b.i = a.i + a.nn // 2
      WHERE a.i <= a.nn // 2
    ),
    nz AS (SELECT event_type, d, ABS(d) AS ad FROM pairs WHERE d <> 0),
    rk AS (
      SELECT event_type, d,
             (2 * RANK() OVER (PARTITION BY event_type ORDER BY ad)
              + COUNT(*) OVER (PARTITION BY event_type, ad) - 1) / 2.0 AS r,
             (CAST(COUNT(*) OVER (PARTITION BY event_type, ad) AS DOUBLE)
              * COUNT(*) OVER (PARTITION BY event_type, ad)
              - 1) / 48.0 AS tie_term
      FROM nz
    ),
    agg AS (
      SELECT event_type, COUNT(*) AS n,
             SUM(CASE WHEN d > 0 THEN r ELSE 0 END) AS w_plus,
             SUM(tie_term) AS ties
      FROM rk GROUP BY event_type
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_pairs, ROUND(w_plus, 6) AS w_plus,
           ROUND((w_plus - n * (n + 1) / 4.0)
                 / SQRT(n * (n + 1) * (2.0 * n + 1) / 24.0 - ties), 6) AS z
    FROM agg
    """,
    tags=("stats", "hypothesis-test", "nonparametric", "paired"),
)
def wilcoxon_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank test (Wilcoxon 1945) per event type: did
    the daily mean value SHIFT between the first and second half of
    the window? Days are paired positionally (i-th day of each half),
    zero differences dropped, |d| average-ranked within series, W+ and
    the tie-corrected normal z emitted. This is the PAIRED complement
    of `mann_whitney_u` — same rank machinery, matched-pairs design.

    Scale shape: one bounded daily rollup (the only corpus-volume
    shuffle); pairing is a self-join of the bounded per-series index
    table (n_series x n_days rows), ranking windows run per series on
    <= n_days/2 rows. Rank sums are exact multiples of 0.5, so the
    unordered SUM is float-exact across engines."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy("event_type", utc_day("ts").alias("day")).agg(F.avg("value").alias("v"))
    idx = daily.select(
        "event_type",
        "v",
        F.row_number().over(Window.partitionBy("event_type").orderBy("day")).alias("i"),
        F.count("*").over(Window.partitionBy("event_type")).alias("nn"),
    )
    a, b = idx.alias("a"), idx.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("b.i") == F.col("a.i") + F.floor(F.col("a.nn") / 2)),
        )
        .filter(F.col("a.i") <= F.floor(F.col("a.nn") / 2))
        .select(F.col("a.event_type").alias("event_type"), (F.col("b.v") - F.col("a.v")).alias("d"))
    )
    nz = pairs.filter(F.col("d") != 0).withColumn("ad", F.abs("d"))
    wt = Window.partitionBy("event_type", "ad")
    rk = nz.select(
        "event_type",
        "d",
        average_rank(["event_type"], "ad").alias("r"),
        (
            (F.count("*").over(wt).cast("double") * F.count("*").over(wt) - 1) / 48.0
        ).alias("tie_term"),
    )
    agg = rk.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("d") > 0, F.col("r")).otherwise(0.0)).alias("w_plus"),
        F.sum("tie_term").alias("ties"),
    )
    return agg.select(
        "event_type",
        F.col("n").cast("long").alias("n_pairs"),
        F.round("w_plus", 6).alias("w_plus"),
        F.round(
            (F.col("w_plus") - F.col("n") * (F.col("n") + 1) / 4.0)
            / F.sqrt(
                F.col("n") * (F.col("n") + 1) * (2.0 * F.col("n") + 1) / 24.0
                - F.col("ties")
            ),
            6,
        ).alias("z"),
    )


@register(
    "friedman_test",
    # Friedman rank test (Friedman 1937) with the tie-corrected
    # statistic: blocks = days, treatments = event types, observations
    # = daily mean value; only COMPLETE blocks (all k treatments
    # present) enter. Within each block treatments get average ranks;
    # chi2_F = (k-1) * sum_j (R_j - n(k+1)/2)^2
    #          / (sum_ij r_ij^2 - n k (k+1)^2 / 4)
    # which reduces to the classic 12/(nk(k+1)) form when tie-free.
    # The BLOCKED complement of kruskal_wallis (unblocked k-group).
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
             AVG(value) AS v
      FROM events GROUP BY 1, 2
    ),
    kk AS (SELECT COUNT(DISTINCT event_type) AS k FROM daily),
    complete AS (
      SELECT day FROM daily GROUP BY day HAVING COUNT(*) = (SELECT k FROM kk)
    ),
    nb AS (SELECT COUNT(*) AS n FROM complete),
    ranked AS (
      SELECT d.event_type,
             (2 * RANK() OVER (PARTITION BY d.day ORDER BY d.v)
              + COUNT(*) OVER (PARTITION BY d.day, d.v) - 1) / 2.0 AS r
      FROM daily d JOIN complete c ON d.day = c.day
    ),
    rj AS (
      SELECT event_type, SUM(r) AS rsum, SUM(r * r) AS rsq
      FROM ranked GROUP BY event_type
    ),
    tot AS (
      SELECT SUM(rsq) AS s,
             SUM((rsum - (SELECT n FROM nb) * ((SELECT k FROM kk) + 1) / 2.0)
                 * (rsum - (SELECT n FROM nb) * ((SELECT k FROM kk) + 1) / 2.0)) AS ssq
      FROM rj
    )
    SELECT CAST((SELECT n FROM nb) AS BIGINT) AS n_blocks,
           CAST((SELECT k FROM kk) AS INT) AS k_treatments,
           ROUND(((SELECT k FROM kk) - 1) * ssq
                 / (s - (SELECT n FROM nb) * (SELECT k FROM kk)
                        * ((SELECT k FROM kk) + 1.0) * ((SELECT k FROM kk) + 1.0) / 4.0),
                 6) AS friedman_chi2,
           CAST((SELECT k FROM kk) - 1 AS INT) AS dof
    FROM tot
    """,
    tags=("stats", "hypothesis-test", "nonparametric", "blocked"),
)
def friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman two-way rank test (Friedman 1937): do event types
    differ in daily mean value once the DAY is controlled for as a
    block? Each complete day ranks its k event types (average ranks on
    ties); the tie-corrected chi-square over rank-column sums is
    emitted with dof = k-1. The blocked complement of
    `kruskal_wallis` — same rank machinery, within-block design that
    removes day-to-day level shifts the unblocked test absorbs as
    noise.

    Scale shape: one bounded daily rollup; everything after lives on
    the (days x types) table — per-day ranking windows over k rows,
    one k-row aggregate, one scalar row out. The two scalar counts
    (k treatments, n complete blocks) attach via broadcast of 1-row
    aggregates, never a corpus-side shuffle. Rank sums are exact
    multiples of 0.5, so cross-engine sums are float-exact."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy("event_type", utc_day("ts").alias("day")).agg(F.avg("value").alias("v"))
    kdf = daily.agg(F.countDistinct("event_type").alias("k"))
    complete = (
        daily.groupBy("day")
        .agg(F.count("*").alias("cnt"))
        .join(F.broadcast(kdf))
        .filter(F.col("cnt") == F.col("k"))
        .select("day")
    )
    nb = complete.agg(F.count("*").alias("n"))
    ranked = daily.join(complete, "day").select(
        "event_type", average_rank(["day"], "v").alias("r")
    )
    rj = ranked.groupBy("event_type").agg(
        F.sum("r").alias("rsum"), F.sum(F.col("r") * F.col("r")).alias("rsq")
    )
    tot = (
        rj.join(F.broadcast(nb))
        .join(F.broadcast(kdf))
        .agg(
            F.sum("rsq").alias("s"),
            F.sum(
                (F.col("rsum") - F.col("n") * (F.col("k") + 1) / 2.0)
                * (F.col("rsum") - F.col("n") * (F.col("k") + 1) / 2.0)
            ).alias("ssq"),
            F.first("n").alias("n"),
            F.first("k").alias("k"),
        )
    )
    return tot.select(
        F.col("n").cast("long").alias("n_blocks"),
        F.col("k").cast("int").alias("k_treatments"),
        F.round(
            (F.col("k") - 1)
            * F.col("ssq")
            / (
                F.col("s")
                - F.col("n") * F.col("k") * (F.col("k") + 1.0) * (F.col("k") + 1.0) / 4.0
            ),
            6,
        ).alias("friedman_chi2"),
        (F.col("k") - 1).cast("int").alias("dof"),
    )


@register(
    "logrank_test",
    # Mantel-Cox log-rank test (Mantel 1966) comparing the
    # time-to-first-purchase survival curves of two user cohorts
    # (user_id parity — a deterministic A/B split), reusing the exact
    # kaplan_meier_retention duration construction (whole hours to
    # first purchase, administrative censoring at 48h). At each event
    # time: expected group-0 events E = d * n0/n under H0 and
    # hypergeometric variance V = d (n0/n)(1 - n0/n)(n-d)/(n-1);
    # chi2 = (O - E)^2 / sum(V), z = (O - E)/sqrt(sum V). This is the
    # INFERENTIAL companion to kaplan_meier_retention (an estimator).
    oracle="""
    WITH users AS (
      SELECT user_id, CAST(user_id % 2 AS INT) AS grp,
             CAST(FLOOR(date_diff('second', MIN(CAST(ts AS TIMESTAMP)),
                                  MIN(CASE WHEN event_type = 'purchase'
                                           THEN CAST(ts AS TIMESTAMP) END)) / 3600.0)
                  AS BIGINT) AS h
      FROM events GROUP BY user_id
    ),
    dur AS (
      SELECT grp, CASE WHEN h <= 48 THEN h ELSE 48 END AS t,
             CASE WHEN h <= 48 THEN 1 ELSE 0 END AS ev
      FROM users
    ),
    att AS (
      SELECT t,
             CAST(SUM(CASE WHEN grp = 0 THEN ev ELSE 0 END) AS DOUBLE) AS d0,
             CAST(SUM(CASE WHEN grp = 1 THEN ev ELSE 0 END) AS DOUBLE) AS d1,
             CAST(SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS DOUBLE) AS tot0,
             CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS tot1
      FROM dur GROUP BY t
    ),
    risk AS (
      SELECT t, d0, d1,
             SUM(tot0) OVER (ORDER BY t DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n0,
             SUM(tot1) OVER (ORDER BY t DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n1
      FROM att
    ),
    ev_times AS (
      SELECT t, d0, d1, n0, n1, d0 + d1 AS d, n0 + n1 AS n
      FROM risk WHERE d0 + d1 > 0
    ),
    agg AS (
      SELECT SUM(d0) AS obs0, SUM(d * n0 / n) AS exp0,
             SUM(CASE WHEN n > 1
                      THEN d * (n0 / n) * (1 - n0 / n) * (n - d) / (n - 1)
                      ELSE 0 END) AS var0
      FROM ev_times
    )
    SELECT CAST((SELECT SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) FROM dur) AS BIGINT)
             AS n_group0,
           CAST((SELECT SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) FROM dur) AS BIGINT)
             AS n_group1,
           ROUND(obs0, 6) AS observed0, ROUND(exp0, 6) AS expected0,
           ROUND((obs0 - exp0) * (obs0 - exp0) / var0, 6) AS logrank_chi2,
           ROUND((obs0 - exp0) / SQRT(var0), 6) AS z
    FROM agg
    """,
    tags=("stats", "survival", "hypothesis-test"),
)
def logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mantel-Cox log-rank test (Mantel 1966): do two user cohorts
    (deterministic user_id-parity split) differ in time to first
    purchase? Shares kaplan_meier_retention's duration table
    (`_purchase_durations`: whole hours, 48h administrative censoring), then at each
    distinct event time compares observed group-0 events with the
    hypergeometric expectation/variance given the per-group risk sets,
    emitting the chi-square and signed z. The inferential companion to
    `kaplan_meier_retention` — KM draws the curves, log-rank says
    whether they differ.

    Scale shape: one user-grain aggregation (the only corpus-volume
    shuffle); the risk-set machinery runs on the bounded
    distinct-duration table (<= 49 rows) via two reverse-cumulative
    windows, and the final statistic is one scalar aggregate with the
    cohort sizes attached from a broadcast 1-row aggregate."""
    dur = _purchase_durations(load_table(spark, sf_dir, "events")).select(
        (F.col("user_id") % 2).cast("int").alias("grp"), "t", "ev"
    )
    att = dur.groupBy("t").agg(
        F.sum(F.when(F.col("grp") == 0, F.col("ev")).otherwise(0)).cast("double").alias("d0"),
        F.sum(F.when(F.col("grp") == 1, F.col("ev")).otherwise(0)).cast("double").alias("d1"),
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0)).cast("double").alias("tot0"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).cast("double").alias("tot1"),
    )
    wdesc = Window.orderBy(F.desc("t")).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    risk = att.select(
        "t", "d0", "d1",
        F.sum("tot0").over(wdesc).alias("n0"),
        F.sum("tot1").over(wdesc).alias("n1"),
    )
    ev_times = risk.select(
        "t", "d0", "d1", "n0", "n1",
        (F.col("d0") + F.col("d1")).alias("d"),
        (F.col("n0") + F.col("n1")).alias("n"),
    ).filter(F.col("d0") + F.col("d1") > 0)
    agg = ev_times.agg(
        F.sum("d0").alias("obs0"),
        F.sum(F.col("d") * F.col("n0") / F.col("n")).alias("exp0"),
        F.sum(
            F.when(
                F.col("n") > 1,
                F.col("d")
                * (F.col("n0") / F.col("n"))
                * (1 - F.col("n0") / F.col("n"))
                * (F.col("n") - F.col("d"))
                / (F.col("n") - 1),
            ).otherwise(0.0)
        ).alias("var0"),
    )
    gcnt = dur.agg(
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0)).cast("long").alias("n_group0"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).cast("long").alias("n_group1"),
    )
    return agg.join(F.broadcast(gcnt)).select(
        "n_group0",
        "n_group1",
        F.round("obs0", 6).alias("observed0"),
        F.round("exp0", 6).alias("expected0"),
        F.round(
            (F.col("obs0") - F.col("exp0")) * (F.col("obs0") - F.col("exp0")) / F.col("var0"), 6
        ).alias("logrank_chi2"),
        F.round((F.col("obs0") - F.col("exp0")) / F.sqrt("var0"), 6).alias("z"),
    )


@register(
    "cochran_armitage_trend",
    # Cochran-Armitage trend-in-proportions test (Cochran 1954,
    # Armitage 1955) across the ORDERED order-priority classes (scores
    # 1..5 from the priority prefix digit) with success = order status
    # 'F' (fulfilled): z = sum_i s_i (r_i - n_i pbar)
    #   / sqrt(pbar (1-pbar) (sum s_i^2 n_i - (sum s_i n_i)^2 / N)),
    # written as (sr - pbar*sn) over the same denominator (algebraic
    # identity, used verbatim in both engines). The ORDERED complement
    # of chi_square_independence / fisher_exact, which ignore class
    # order entirely.
    oracle="""
    WITH scored AS (
      SELECT CAST(SUBSTR(o_orderpriority, 1, 1) AS INT) AS s,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      FROM orders
    ),
    g AS (
      SELECT s, CAST(COUNT(*) AS DOUBLE) AS n_i, CAST(SUM(y) AS DOUBLE) AS r_i
      FROM scored GROUP BY s
    ),
    tot AS (
      SELECT SUM(n_i) AS nn, SUM(r_i) AS rr,
             SUM(s * r_i) AS sr, SUM(s * n_i) AS sn, SUM(s * s * n_i) AS ssn
      FROM g
    )
    SELECT CAST(nn AS BIGINT) AS n_orders, ROUND(rr / nn, 6) AS pbar,
           ROUND((sr - rr / nn * sn)
                 / SQRT(rr / nn * (1 - rr / nn) * (ssn - sn * sn / nn)), 6) AS ca_z,
           ROUND(((sr - rr / nn * sn) * (sr - rr / nn * sn))
                 / (rr / nn * (1 - rr / nn) * (ssn - sn * sn / nn)), 6) AS ca_chi2
    FROM tot
    """,
    tags=("stats", "hypothesis-test", "trend", "categorical"),
)
def cochran_armitage_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Armitage test for a monotone trend in proportions
    (Cochran 1954, Armitage 1955): does the fulfilled-order rate drift
    across the five ORDERED priority classes (scores 1=URGENT..5=LOW)?
    Unlike `chi_square_independence`/`fisher_exact_priority_late`,
    which treat priority as unordered categories, this spends its
    single degree of freedom on the linear-trend alternative — the
    standard dose-response test.

    Scale shape: one map-side projection (score digit + success flag)
    into a 5-group aggregate — the only corpus-volume shuffle is on 5
    keys with map-side partial aggregation — then a 5-row scalar
    reduction; the statistic is closed-form on those sums."""
    o = load_table(spark, sf_dir, "orders")
    scored = o.select(
        F.substring("o_orderpriority", 1, 1).cast("int").alias("s"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
    )
    g = scored.groupBy("s").agg(
        F.count("*").cast("double").alias("n_i"),
        F.sum("y").cast("double").alias("r_i"),
    )
    tot = g.agg(
        F.sum("n_i").alias("nn"),
        F.sum("r_i").alias("rr"),
        F.sum(F.col("s") * F.col("r_i")).alias("sr"),
        F.sum(F.col("s") * F.col("n_i")).alias("sn"),
        F.sum(F.col("s") * F.col("s") * F.col("n_i")).alias("ssn"),
    )
    pbar = F.col("rr") / F.col("nn")
    denom = pbar * (1 - pbar) * (F.col("ssn") - F.col("sn") * F.col("sn") / F.col("nn"))
    return tot.select(
        F.col("nn").cast("long").alias("n_orders"),
        F.round(pbar, 6).alias("pbar"),
        F.round((F.col("sr") - pbar * F.col("sn")) / F.sqrt(denom), 6).alias("ca_z"),
        F.round(
            ((F.col("sr") - pbar * F.col("sn")) * (F.col("sr") - pbar * F.col("sn"))) / denom, 6
        ).alias("ca_chi2"),
    )


@register(
    "g_test_independence",
    # G-test (log-likelihood-ratio) of independence on the same
    # event_type x day-of-week table as chi_square_independence:
    # G = 2 sum O ln(O/E). Observed-zero cells contribute exactly 0
    # (lim x->0 of x ln x), so building the table from observed
    # combinations only is EXACT for G — unlike Pearson's X^2, where
    # empty cells still carry E. The two statistics converge for large
    # E but diverge on sparse tables; emitting both lets users see the
    # sparse-table disagreement directly.
    oracle="""
    WITH obs AS (
      SELECT event_type, dayofweek(CAST(ts AS TIMESTAMP)) + 1 AS dow,
             CAST(COUNT(*) AS BIGINT) AS o
      FROM events GROUP BY 1, 2
    ),
    tot AS (
      SELECT event_type, dow, o,
             SUM(o) OVER (PARTITION BY event_type) AS row_tot,
             SUM(o) OVER (PARTITION BY dow) AS col_tot,
             SUM(o) OVER () AS n
      FROM obs
    ),
    cells AS (
      SELECT event_type, dow, o,
             CAST(row_tot AS DOUBLE) * col_tot / n AS expected,
             2 * o * LN(o / (CAST(row_tot AS DOUBLE) * col_tot / n)) AS g_contrib
      FROM tot
    ),
    stat AS (
      SELECT SUM(g_contrib) AS g,
             (COUNT(DISTINCT event_type) - 1) * (COUNT(DISTINCT dow) - 1) AS dof
      FROM cells
    )
    SELECT c.event_type, CAST(c.dow AS INT) AS dow, c.o AS observed,
           ROUND(c.expected, 4) AS expected, ROUND(c.g_contrib, 6) AS g_contrib,
           ROUND(s.g, 4) AS g_total, CAST(s.dof AS INT) AS dof
    FROM cells c CROSS JOIN stat s
    """,
    tags=("stats", "hypothesis-test", "categorical"),
)
def g_test_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G-test of independence (Sokal & Rohlf's log-likelihood-ratio
    form, Wilks 1938) on the event_type x day-of-week contingency
    table — the information-theoretic twin of
    `chi_square_independence`: G = 2 sum O ln(O/E) is additive across
    table partitions (chi-square is not) and equals 2N x the mutual
    information in nats, tying this test to
    `mutual_information_assoc`'s effect size. Per-cell signed
    contributions show WHICH cells carry the association; zero
    observed cells contribute exactly 0, so the observed-combination
    table is exact for G.

    Scale shape: identical to the chi-square query — one corpus-volume
    aggregation onto the bounded type x dow cell table, marginals via
    window sums over that bounded table, the scalar statistic attached
    to every row via the allow-listed 1-row broadcast cross join."""
    e = load_table(spark, sf_dir, "events")
    obs = e.groupBy(
        "event_type", F.dayofweek("ts").alias("dow")
    ).agg(F.count("*").alias("o"))
    tot = contingency_margins(obs, "event_type", "dow", "o")
    expected = F.col("row_tot").cast("double") * F.col("col_tot") / F.col("n")
    cells = tot.select(
        "event_type",
        "dow",
        "o",
        expected.alias("expected"),
        (2 * F.col("o") * F.log(F.col("o") / expected)).alias("g_contrib"),
    )
    stat = cells.agg(
        F.sum("g_contrib").alias("g"),
        (
            (F.countDistinct("event_type") - 1) * (F.countDistinct("dow") - 1)
        ).alias("dof"),
    )
    return cells.crossJoin(F.broadcast(stat)).select(
        "event_type",
        F.col("dow").cast("int").alias("dow"),
        F.col("o").cast("long").alias("observed"),
        F.round("expected", 4).alias("expected"),
        F.round("g_contrib", 6).alias("g_contrib"),
        F.round("g", 4).alias("g_total"),
        F.col("dof").cast("int").alias("dof"),
    )
