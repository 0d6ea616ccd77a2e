"""Window-function operators: rank, top-k, top-2 delta, BH p-adjust,
seeded exact-N stratified sampling, cumulative frames, lag/lead deltas,
gap-based sessionization.

Covers SURVEY.md §2.5 (W1-W10) plus the batch form of the streaming
sessionization surface. Windows with high-cardinality partition keys
(per-user, per-group) shuffle once on the partition key and stay sorted —
the same layout a 1000-executor run would want.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from utils_spark.io import load_table
from utils_spark.registry import register


@register(
    "rank_in_group",
    oracle="""
    SELECT c_custkey, c_mktsegment, c_acctbal,
           CAST(rank()       OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) AS BIGINT) AS bal_rank,
           CAST(row_number() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) AS BIGINT) AS bal_rownum,
           ROUND(percent_rank() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal), 6) AS bal_pctrank
    FROM customer
    """,
    tags=("windows", "W1", "W5"),
)
def rank_in_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking within groups (reference W1: R/wrapper.R:55-58 barcode rank
    on totals desc). Deterministic tiebreak by key (SURVEY §7.1)."""
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    wp = Window.partitionBy("c_mktsegment").orderBy(F.asc("c_acctbal"))
    return c.select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        F.rank().over(w).cast("long").alias("bal_rank"),
        F.row_number().over(w).cast("long").alias("bal_rownum"),
        F.round(F.percent_rank().over(wp), 6).alias("bal_pctrank"),
    )


@register(
    "topk_per_group",
    oracle="""
    SELECT p_brand, p_partkey, p_retailprice
    FROM (SELECT p_brand, p_partkey, p_retailprice,
                 row_number() OVER (PARTITION BY p_brand
                                    ORDER BY p_retailprice DESC, p_partkey) AS rn
          FROM part)
    WHERE rn <= 3
    """,
    tags=("windows", "W6"),
)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group (reference W6: R/qc_rna.R:36-42 slice_head after
    arrange). Spark plans a partial top-k under AQE before the final
    window — no full sort of the fact table."""
    p = load_table(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(F.desc("p_retailprice"), F.asc("p_partkey"))
    return (
        p.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("p_brand", "p_partkey", "p_retailprice")
    )


@register(
    "top2_delta",
    oracle="""
    WITH top2 AS (
      SELECT c_mktsegment, c_acctbal,
             row_number() OVER (PARTITION BY c_mktsegment
                                ORDER BY c_acctbal DESC, c_custkey) AS rn
      FROM customer
    )
    SELECT c_mktsegment, ROUND(MAX(c_acctbal) - MIN(c_acctbal), 4) AS delta_next
    FROM top2 WHERE rn <= 2 GROUP BY c_mktsegment
    """,
    tags=("windows", "W2"),
)
def top2_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-minus-second value per group (reference W2 `delta.next`:
    R/compare_annotation.R:37-48: sorted scores, first − second).

    Window top-2 then a tiny aggregate; Spark's rank-limit pushdown
    (WindowGroupLimit) keeps only two rows per group per partition before
    the shuffle — no full sort of the fact table."""
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    top2 = c.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 2)
    return (
        top2.groupBy("c_mktsegment")
        .agg(F.round(F.max("c_acctbal") - F.min("c_acctbal"), 4).alias("delta_next"))
    )


@register(
    "bh_adjust",
    oracle="""
    WITH p AS (
      SELECT event_id, event_type, value - FLOOR(value) AS pvalue
      FROM events WHERE value IS NOT NULL
    ),
    ranked AS (
      SELECT event_id, event_type, pvalue,
             row_number() OVER (PARTITION BY event_type ORDER BY pvalue, event_id) AS r,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM p
    )
    SELECT event_id, event_type, ROUND(pvalue, 6) AS pvalue,
           ROUND(LEAST(1.0,
             MIN(pvalue * n / r) OVER (PARTITION BY event_type ORDER BY pvalue, event_id
                                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)), 6)
             AS p_adjusted
    FROM ranked
    """,
    tags=("windows", "W4", "stats", "bench"),
)
def bh_adjust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg p-value adjustment as a pure window composition
    (reference W4: R/tradeseq.R:98-111 `p.adjust(..., "BH")`):
    ``padj_i = min_{j>=i}(p_(j) * n / j)`` clamped to 1.

    One shuffle on the family key, one sort per family; the running-min
    frame is streaming (no buffering). p-values derived deterministically
    from events.value fractional parts so the oracle can reproduce them."""
    e = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    p = e.select(
        "event_id", "event_type", (F.col("value") - F.floor(F.col("value"))).alias("pvalue")
    )
    wo = Window.partitionBy("event_type").orderBy("pvalue", "event_id")
    wn = Window.partitionBy("event_type")
    # running min in REVERSE order — a streaming frame; the naive
    # [current, unboundedFollowing] frame is O(n²) per partition in Spark
    # (26 s vs 0.4 s at 100k rows; see operators.stats.bh_adjust)
    wmin = (
        Window.partitionBy("event_type")
        .orderBy(F.desc("pvalue"), F.desc("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        p.withColumn("r", F.row_number().over(wo))
        .withColumn("n", F.count("*").over(wn))
        .withColumn(
            "p_adjusted",
            F.round(F.least(F.lit(1.0), F.min(F.col("pvalue") * F.col("n") / F.col("r")).over(wmin)), 6),
        )
        .select("event_id", "event_type", F.round("pvalue", 6).alias("pvalue"), "p_adjusted")
    )


@register(
    "stratified_sample",
    oracle="""
    SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_sampled,
           ROUND(SUM(c_acctbal), 4) AS bal_sum
    FROM (
      SELECT c_mktsegment, c_acctbal,
             row_number() OVER (PARTITION BY c_mktsegment
                                ORDER BY md5(concat(CAST(c_custkey AS VARCHAR), ':', '290'))) AS rn
      FROM customer
    ) WHERE rn <= 100
    GROUP BY c_mktsegment
    """,
    tags=("windows", "W7", "sampling"),
)
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded EXACT-N stratified sampling (reference W7:
    R/reference.R:144-155, `.SD[sample(.N, min(500,.N))]` seed 290).

    Determinism at scale: ordering by md5(key:seed) — partition-layout- and
    engine-independent (SURVEY §7.2), unlike F.rand(seed). Checksummed per
    stratum so the oracle verifies the exact same rows were chosen. Runs
    the `stratified_sample_exact` operator."""
    from utils_spark.operators.sampling import stratified_sample_exact

    c = load_table(spark, sf_dir, "customer")
    return (
        stratified_sample_exact(c, "c_mktsegment", "c_custkey", 100, seed=290)
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_sampled"), F.round(F.sum("c_acctbal"), 4).alias("bal_sum"))
    )


@register(
    "cumulative_frames",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate,
           ROUND(SUM(o_totalprice) OVER (PARTITION BY o_custkey
                                         ORDER BY o_orderdate, o_orderkey
                                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
             AS running_spend,
           ROUND(AVG(o_totalprice) OVER (PARTITION BY o_custkey
                                         ORDER BY o_orderdate, o_orderkey
                                         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4)
             AS moving_avg_3
    FROM orders
    """,
    tags=("windows", "W10"),
)
def cumulative_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative and sliding frames (reference W10: cummin inside BH,
    generalized to running-sum / moving-average)."""
    o = load_table(spark, sf_dir, "orders")
    wo = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.round(F.sum("o_totalprice").over(wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 4).alias(
            "running_spend"
        ),
        F.round(F.avg("o_totalprice").over(wo.rowsBetween(-2, Window.currentRow)), 4).alias("moving_avg_3"),
    )


@register(
    "lag_lead_delta",
    oracle="""
    WITH ev AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type FROM events)
    SELECT user_id, event_id, ts,
           ROUND(CAST(epoch_us(ts) - lag(epoch_us(ts)) OVER w AS DOUBLE) / 1e6, 6) AS secs_since_prev,
           lead(event_type) OVER w AS next_type
    FROM ev
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    tags=("windows", "temporal"),
)
def lag_lead_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag/lead deltas per entity timeline — inter-event gaps, the building
    block for sessionization and trajectory ordering (reference M12 arc
    ordering analog)."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    return e.select(
        "user_id",
        "event_id",
        "ts",
        F.round(
            (F.unix_micros(F.col("ts")) - F.unix_micros(prev_ts)).cast("double") / 1e6, 6
        ).alias("secs_since_prev"),
        F.lead("event_type").over(w).alias("next_type"),
    )


@register(
    "sessionize",
    oracle="""
    WITH events_us AS (
      SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events
    ),
    gaps AS (
      SELECT user_id, event_id, ts, value,
             CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                       OR epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                          > 1800000000
                  THEN 1 ELSE 0 END AS new_session
      FROM events_us
    ),
    sess AS (
      SELECT user_id, event_id, ts, value,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
      FROM gaps
    )
    SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           MIN(ts) AS session_start, MAX(ts) AS session_end,
           ROUND(SUM(value), 4) AS session_value
    FROM sess GROUP BY user_id, session_seq
    """,
    tags=("windows", "streaming-batch", "bench"),
)
def sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity gap) as the batch twin of
    Structured Streaming's session_window (see utils_spark.streaming).

    Scale: one shuffle on user_id; the cumulative flag-sum is a streaming
    frame. This is exactly the layout a stateful streaming job keeps per
    key — batch and stream share semantics."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    new_session = F.when(gap_us.isNull() | (gap_us > 1800 * 1_000_000), 1).otherwise(0)
    sess = (
        e.withColumn("new_session", new_session)
        .withColumn(
            "session_seq",
            F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).cast("long"),
        )
    )
    return sess.groupBy("user_id", "session_seq").agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.round(F.sum("value"), 4).alias("session_value"),
    )


@register(
    "rolling_time_range",
    oracle="""
    WITH ev AS (
      SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value,
             epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS ts_s
      FROM events
    )
    SELECT user_id, event_id, ts,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_last_hour,
           ROUND(SUM(value) OVER w, 4) AS value_last_hour
    FROM ev
    WINDOW w AS (PARTITION BY user_id ORDER BY ts_s
                 RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
    """,
    tags=("windows", "W10", "range-frame"),
)
def rolling_time_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window: per user, events/value within the PRECEDING
    HOUR of event time (not row count) — the time-decayed rolling metric
    of activity feeds. Ordering on integer epoch-seconds makes the range
    frame semantics (ties included) identical across engines."""
    e = load_table(spark, sf_dir, "events").withColumn(
        "ts_s", (F.unix_micros("ts") / 1_000_000).cast("long")
    )
    w = Window.partitionBy("user_id").orderBy("ts_s").rangeBetween(-3600, 0)
    return e.select(
        "user_id",
        "event_id",
        "ts",
        F.count("*").over(w).alias("n_last_hour"),
        F.round(F.sum("value").over(w), 4).alias("value_last_hour"),
    )


@register(
    "equidepth_histogram",
    oracle="""
    WITH t AS (
      SELECT o_totalprice,
             ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS bucket
      FROM orders
    )
    SELECT CAST(bucket AS INT) AS bucket, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(MIN(o_totalprice), 4) AS lo, ROUND(MAX(o_totalprice), 4) AS hi
    FROM t GROUP BY bucket
    """,
    tags=("windows", "A14", "equidepth"),
)
def equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH histogram (quantile bucketing): ntile(10) over a fully
    deterministic ordering → per-bucket extent and count. Complements the
    fixed-width histogram (binned_agg) with the equal-mass variant used
    for robust binning and data profiling. Both engines implement SQL
    ntile's larger-first remainder rule, so buckets match exactly."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.orderBy("o_totalprice", "o_orderkey")
    return (
        o.withColumn("bucket", F.ntile(10).over(w))
        .groupBy(F.col("bucket").cast("int").alias("bucket"))
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("o_totalprice"), 4).alias("lo"),
            F.round(F.max("o_totalprice"), 4).alias("hi"),
        )
    )


@register(
    "by_adjust_dependent",
    # Benjamini-Yekutieli p-value adjustment (Benjamini & Yekutieli
    # 2001) — FDR control valid under ARBITRARY dependence, the
    # conservative sibling of BH: padj_i = min_{j>=i}(p_(j) * n * c(n)
    # / j) clamped to 1, with c(n) = sum_{i=1..n} 1/i (BH has c = 1).
    # c(n) is computed as SUM(1/rank) over the already-ranked family —
    # the same harmonic number without a second pass. BH rides along
    # and the in-query certificate p_by >= p_bh (c(n) >= 1) is checked
    # per row. Same p-value construction as `bh_adjust` (fractional
    # parts of events.value) so the two queries are directly
    # comparable.
    oracle="""
    WITH p AS (
      SELECT event_id, event_type, value - FLOOR(value) AS pvalue
      FROM events WHERE value IS NOT NULL
    ),
    ranked AS (
      SELECT event_id, event_type, pvalue,
             row_number() OVER (PARTITION BY event_type ORDER BY pvalue, event_id) AS r,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM p
    ),
    cn AS (
      SELECT event_type, SUM(1.0 / r) AS c FROM ranked GROUP BY event_type
    )
    SELECT k.event_id, k.event_type, ROUND(k.pvalue, 6) AS pvalue,
           ROUND(LEAST(1.0,
             MIN(k.pvalue * k.n / k.r) OVER (PARTITION BY k.event_type
               ORDER BY k.pvalue, k.event_id
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)), 6) AS p_bh,
           ROUND(LEAST(1.0,
             MIN(k.pvalue * k.n * c.c / k.r) OVER (PARTITION BY k.event_type
               ORDER BY k.pvalue, k.event_id
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)), 6) AS p_by,
           CASE WHEN
             LEAST(1.0, MIN(k.pvalue * k.n * c.c / k.r) OVER (PARTITION BY k.event_type
               ORDER BY k.pvalue, k.event_id
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
             >= LEAST(1.0, MIN(k.pvalue * k.n / k.r) OVER (PARTITION BY k.event_type
               ORDER BY k.pvalue, k.event_id
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)) * (1 - 1e-12)
           THEN 1 ELSE 0 END AS by_ge_bh
    FROM ranked k JOIN cn c ON k.event_type = c.event_type
    """,
    tags=("windows", "stats", "multiple-testing"),
)
def by_adjust_dependent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Yekutieli FDR adjustment (Benjamini & Yekutieli 2001)
    — the multiple-testing correction that stays valid when the tests
    are DEPENDENT (correlated genes, overlapping windows), which is
    the regime where plain BH's guarantee silently lapses: the BH
    threshold is inflated by the harmonic number c(n) = sum 1/i. Both
    BH and BY are emitted side by side with the per-row certificate
    p_by >= p_bh (c(n) >= 1 always — any violation means a broken
    harmonic factor).

    Scale shape: identical to `bh_adjust` — one family-key shuffle,
    one per-family sort, the reverse-order running-min window is a
    streaming frame (the naive forward frame is O(n^2) per
    partition); c(n) is one bounded per-family aggregate over 1/rank
    joined back by family key (5 rows, broadcast)."""
    e = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    p = e.select(
        "event_id", "event_type", (F.col("value") - F.floor(F.col("value"))).alias("pvalue")
    )
    wo = Window.partitionBy("event_type").orderBy("pvalue", "event_id")
    wn = Window.partitionBy("event_type")
    ranked = p.withColumn("r", F.row_number().over(wo)).withColumn(
        "n", F.count("*").over(wn)
    )
    cn = ranked.groupBy("event_type").agg(F.sum(1.0 / F.col("r")).alias("c"))
    wmin = (
        Window.partitionBy("event_type")
        .orderBy(F.desc("pvalue"), F.desc("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    bh = F.least(F.lit(1.0), F.min(F.col("pvalue") * F.col("n") / F.col("r")).over(wmin))
    by = F.least(
        F.lit(1.0), F.min(F.col("pvalue") * F.col("n") * F.col("c") / F.col("r")).over(wmin)
    )
    return (
        ranked.join(F.broadcast(cn), "event_type")
        .withColumn("p_bh", F.round(bh, 6))
        .withColumn("p_by", F.round(by, 6))
        .withColumn(
            "by_ge_bh", F.when(by >= bh * (1 - 1e-12), 1).otherwise(0)
        )
        .select(
            "event_id",
            "event_type",
            F.round("pvalue", 6).alias("pvalue"),
            "p_bh",
            "p_by",
            "by_ge_bh",
        )
    )
