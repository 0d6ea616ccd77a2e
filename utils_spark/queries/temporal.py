"""Temporal + semi-structured operators: date truncation roll-ups, tumbling
event-time windows (batch twin of the streaming path), JSON extraction,
event analytics (cohort retention, funnels, transition matrices, basket
affinity), and the daily time-series queries: smoothing and forecasting
(EWMA, Holt, Holt-Winters), monitoring detectors (EWMA control chart,
CUSUM, rolling correlation, percentile bands), decomposition and trend
(seasonal decomposition, Theil-Sen, isotonic fit), serial dependence (ACF,
PACF, Ljung-Box, periodogram) and series comparison (DTW, Kendall tau).

Every daily roll-up buckets with ``functions.utc_day``; the array folds
take their per-series arrays from ``stats.ordered_series`` and the ACF
family its lag sums from ``stats.lag_covariances``. The reference has no
date/JSON surface (SURVEY §2.7) — Spark gives these free and the driver's
`events.props` / `orders.o_orderdate` call for them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from utils_spark.functions import exact_percentile, utc_day
from utils_spark.io import load_table
from utils_spark.operators.stats import (
    MAD_CONSISTENCY,
    ewma_closed_form,
    lag_covariances,
    ordered_series,
    series_moments,
)
from utils_spark.registry import register


@register(
    "monthly_rollup",
    oracle="""
    SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS order_month,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS month_revenue,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers
    FROM orders GROUP BY 1
    """,
    tags=("temporal", "bench"),
)
def monthly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar roll-up by month: count, revenue, exact distinct customers.
    date_trunc is a map-side expression; one hash agg on ~80 month keys."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(F.to_date(F.date_trunc("month", "o_orderdate")).alias("order_month"))
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("month_revenue"),
            F.countDistinct("o_custkey").alias("n_customers"),
        )
    )


@register(
    "tumbling_window",
    oracle="""
    SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS window_start,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(value), 4) AS total_value,
           CAST(ROUND(SUM(value * 100)) AS BIGINT) / 100.0 / COUNT(value) AS avg_value
    FROM events GROUP BY 1, 2
    """,
    tags=("temporal", "streaming-batch", "bench"),
)
def tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time windows via F.window — the exact operator
    Structured Streaming uses (utils_spark.streaming wires the same
    expression behind readStream + watermark); running it in batch proves
    semantic equivalence of the two paths."""
    e = load_table(spark, sf_dir, "events")
    # avg via exact-integer-numerator division: events.value is 2-decimal
    # quantized, so sum/count with power-of-2 counts lands exactly on
    # round-half boundaries where engines disagree at the last ulp (found
    # at sf0.1: a 32-event window hit avg=...8125 → 6dp boundary)
    exact_avg = F.round(F.sum(F.col("value") * 100)).cast("long") / 100.0 / F.count("value")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 4).alias("total_value"),
            exact_avg.alias("avg_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total_value", "avg_value")
    )


@register(
    "json_extract",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(AVG(CAST(json_extract_string(props, '$.k') AS DOUBLE)), 6) AS avg_k,
           ROUND(MAX(CAST(json_extract_string(props, '$.k') AS DOUBLE)), 4) AS max_k
    FROM events GROUP BY event_type
    """,
    tags=("temporal", "json"),
)
def json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON scalar extraction from the semi-structured props column
    (SURVEY §2.7: exposed for events.props). get_json_object is JVM-side;
    at scale prefer from_json with an explicit schema once fields are known
    so Catalyst can prune."""
    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("double")
    return e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.avg(k), 6).alias("avg_k"),
        F.round(F.max(k), 4).alias("max_k"),
    )


@register(
    "hierarchical_time_rollup",
    oracle="""
    WITH minute AS (
      SELECT time_bucket(INTERVAL '1 minute', CAST(ts AS TIMESTAMP)) AS b,
             COUNT(*) AS n, ROUND(SUM(value), 4) AS v
      FROM events GROUP BY 1
    ),
    hour AS (
      SELECT time_bucket(INTERVAL '1 hour', b) AS b, SUM(n) AS n, ROUND(SUM(v), 4) AS v
      FROM minute GROUP BY 1
    ),
    day AS (
      SELECT time_bucket(INTERVAL '1 day', b) AS b, SUM(n) AS n, ROUND(SUM(v), 4) AS v
      FROM hour GROUP BY 1
    )
    SELECT 'hour' AS granularity, b AS bucket_start, CAST(n AS BIGINT) AS n, v
    FROM hour
    UNION ALL
    SELECT 'day' AS granularity, b AS bucket_start, CAST(n AS BIGINT) AS n, v
    FROM day
    """,
    tags=("temporal", "hypertable", "rollup"),
)
def hierarchical_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style hierarchical rollup (task brief's 'hypertable
    rollup'): minute aggregates roll up into hours, hours into days —
    each level re-aggregates the PREVIOUS level, never the raw events
    (the continuous-aggregate pattern: at 100 TB the minute layer is the
    only raw scan; coarser layers cost ~nothing and stay consistent
    because sums/counts re-aggregate losslessly)."""
    e = load_table(spark, sf_dir, "events")
    minute = e.groupBy(F.window("ts", "1 minute").alias("w")).agg(
        F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("v")
    ).select(F.col("w.start").alias("b"), "n", "v")
    hour = minute.groupBy(F.window("b", "1 hour").alias("w")).agg(
        F.sum("n").alias("n"), F.round(F.sum("v"), 4).alias("v")
    ).select(F.col("w.start").alias("b"), "n", "v")
    day = hour.groupBy(F.window("b", "1 day").alias("w")).agg(
        F.sum("n").alias("n"), F.round(F.sum("v"), 4).alias("v")
    ).select(F.col("w.start").alias("b"), "n", "v")
    return (
        hour.select(F.lit("hour").alias("granularity"), F.col("b").alias("bucket_start"), "n", "v")
        .unionByName(
            day.select(F.lit("day").alias("granularity"), F.col("b").alias("bucket_start"), "n", "v")
        )
    )


@register(
    "cohort_retention",
    oracle="""
    WITH ev AS (
      SELECT user_id, CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day
      FROM events
    ),
    firsts AS (SELECT user_id, MIN(day) AS cohort_day FROM ev GROUP BY user_id),
    activity AS (
      SELECT DISTINCT e.user_id, f.cohort_day,
             date_diff('day', f.cohort_day, e.day) AS day_offset
      FROM ev e JOIN firsts f ON e.user_id = f.user_id
    )
    SELECT cohort_day, CAST(day_offset AS INT) AS day_offset,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_active
    FROM activity WHERE day_offset <= 7
    GROUP BY cohort_day, day_offset
    """,
    tags=("temporal", "cohort", "retention"),
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users grouped by first-activity day,
    counted as active at each day-offset since (first week) — the
    standard event-analytics retention query. First-day table is small
    per cohort and broadcast back onto activity."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", utc_day("ts").alias("day")
    )
    firsts = e.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    activity = (
        e.join(firsts, "user_id")
        .select("user_id", "cohort_day", F.datediff("day", "cohort_day").alias("day_offset"))
        .distinct()
    )
    return (
        activity.filter(F.col("day_offset") <= 7)
        .groupBy("cohort_day", F.col("day_offset").cast("int").alias("day_offset"))
        .agg(F.countDistinct("user_id").alias("n_active"))
    )


@register(
    "windowed_event_dedup",
    # time-windowed dedup: within each 1-hour tumbling window, keep only
    # the FIRST (min event_id) occurrence of each (user, event_type) — the
    # batch twin of the streaming dropDuplicatesWithinWatermark gate
    # (`stream_stateful_dedup`): the window bound is what makes streaming
    # dedup state evictable, and this query pins the identical semantics
    # in batch
    oracle="""
    WITH w AS (
      SELECT event_id, user_id, event_type, value,
             time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS window_start
      FROM events
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY window_start, user_id, event_type
                                   ORDER BY event_id) AS rn
      FROM w
    )
    SELECT window_start,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN rn = 1 THEN event_id ELSE 0 END) AS BIGINT) AS kept_id_checksum,
           ROUND(SUM(CASE WHEN rn = 1 THEN value ELSE 0 END), 4) AS kept_value
    FROM ranked GROUP BY window_start
    """,
    tags=("temporal", "dedup", "windowed", "streaming-batch"),
)
def windowed_event_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-windowed deduplication: within each 1-hour tumbling window,
    keep only the first (min event_id) occurrence of each
    (user_id, event_type) — re-publication/retry collapsing with a bounded
    memory horizon. This is the exact batch semantics of
    `dropDuplicatesWithinWatermark` (driver-gated live in
    `stream_stateful_dedup`): the window bound is what lets streaming
    state evict, and a batch/stream pair with the SAME window rule is how
    a pipeline backfills history consistently with its live path.

    Scale shape: one shuffle on (window, user, type) for the in-window
    ranking — groups are tiny by construction (bounded by per-user-hour
    activity), so the window sort never concentrates; the per-window
    rollup reuses the same exchange via partial aggregation."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    w = e.select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.window("ts", "1 hour").start.alias("window_start"),
    )
    rk = Window.partitionBy("window_start", "user_id", "event_type").orderBy("event_id")
    ranked = w.withColumn("rn", F.row_number().over(rk))
    first = F.col("rn") == 1
    return ranked.groupBy("window_start").agg(
        F.count("*").alias("n_events"),
        F.sum(first.cast("long")).cast("long").alias("n_kept"),
        F.sum(F.when(first, F.col("event_id")).otherwise(0)).cast("long").alias("kept_id_checksum"),
        F.round(F.sum(F.when(first, F.col("value")).otherwise(0.0)), 4).alias("kept_value"),
    )


@register(
    "event_funnel_conversion",
    # ordered multi-step funnel with per-step deadlines: first view →
    # first click within 24 h of it → first purchase within 24 h of THAT.
    # Step counts + converter-id checksums; exact timestamp arithmetic
    oracle="""
    WITH v AS (
      SELECT user_id, MIN(ts) AS t_view FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT v.user_id, MIN(e.ts) AS t_click
      FROM v JOIN events e ON e.user_id = v.user_id
       AND e.event_type = 'click' AND e.ts > v.t_view
       AND e.ts <= v.t_view + INTERVAL '24 hours'
      GROUP BY v.user_id
    ),
    p AS (
      SELECT c.user_id
      FROM c JOIN events e ON e.user_id = c.user_id
       AND e.event_type = 'purchase' AND e.ts > c.t_click
       AND e.ts <= c.t_click + INTERVAL '24 hours'
      GROUP BY c.user_id
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM v) AS step_view,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM c) AS step_click,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM p) AS step_purchase,
           (SELECT CAST(COALESCE(SUM(user_id), 0) AS BIGINT) FROM c) AS click_user_checksum,
           (SELECT CAST(COALESCE(SUM(user_id), 0) AS BIGINT) FROM p) AS purchase_user_checksum
    """,
    tags=("temporal", "funnel", "sequence-analytics"),
)
def event_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel analysis — the product-analytics staple: users who
    VIEWED, then CLICKED within 24 h of their first view, then PURCHASED
    within 24 h of that first qualifying click. Each step requires strict
    temporal order with a per-step deadline, so naive per-type min-ts
    comparison is wrong — the deadline anchors on the PREVIOUS step's
    qualifying event.

    Scale shape: each step is a user-keyed join of the (shrinking)
    converter set against the one needed event type — the event scan
    prunes on event_type (pushed filter) and the join key is user_id, so
    step N costs |converters at N−1| × matching events, never a
    self-cartesian. The summary is three tiny scalar aggregates."""
    e = load_table(spark, sf_dir, "events")
    day = F.expr("INTERVAL 24 HOURS")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"), F.col("ts").alias("cts")
    )
    c = (
        v.join(
            clicks,
            (F.col("cu") == F.col("user_id"))
            & (F.col("cts") > F.col("t_view"))
            & (F.col("cts") <= F.col("t_view") + day),
        )
        .groupBy("user_id")
        .agg(F.min("cts").alias("t_click"))
    )
    buys = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"), F.col("ts").alias("pts")
    )
    p = (
        c.join(
            buys,
            (F.col("pu") == F.col("user_id"))
            & (F.col("pts") > F.col("t_click"))
            & (F.col("pts") <= F.col("t_click") + day),
        )
        .groupBy("user_id")
        .agg(F.count("*").alias("_n"))
    )
    sv = v.agg(F.count("*").cast("long").alias("step_view"))
    sc = c.agg(
        F.count("*").cast("long").alias("step_click"),
        F.coalesce(F.sum("user_id"), F.lit(0)).cast("long").alias("click_user_checksum"),
    )
    sp = p.agg(
        F.count("*").cast("long").alias("step_purchase"),
        F.coalesce(F.sum("user_id"), F.lit(0)).cast("long").alias("purchase_user_checksum"),
    )
    return (
        sv.crossJoin(F.broadcast(sc))
        .crossJoin(F.broadcast(sp))
        .select(
            "step_view",
            "step_click",
            "step_purchase",
            "click_user_checksum",
            "purchase_user_checksum",
        )
    )


@register(
    "event_transition_matrix",
    # first-order Markov transition matrix of user event sequences:
    # lead() per user (ts, event_id total order), pair counts, row-
    # normalized probabilities at 6dp
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS next_type
      FROM events
    ),
    pairs AS (
      SELECT event_type AS from_type, next_type AS to_type, COUNT(*) AS n
      FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2
    ),
    tot AS (SELECT from_type, SUM(n) AS t FROM pairs GROUP BY from_type)
    SELECT p.from_type, p.to_type, CAST(p.n AS BIGINT) AS n_transitions,
           ROUND(CAST(p.n AS DOUBLE) / t.t, 6) AS prob
    FROM pairs p JOIN tot t USING (from_type)
    """,
    tags=("temporal", "sequence-analytics", "markov"),
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event sequences:
    for each consecutive (event, next-event) pair in a user's timeline
    (total order (ts, event_id) so ties are deterministic), the transition
    count and row-normalized probability — the behavioral-model summary
    behind next-action prediction and anomaly scoring.

    Scale shape: one user-keyed window (per-user sequences are short), a
    bounded (type × type) pair aggregation with map-side combine, and a
    broadcast-sized row-total join. Nothing global ever sorts."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    pairs = seq.groupBy("from_type", "to_type").agg(F.count("*").alias("n"))
    tot = pairs.groupBy("from_type").agg(F.sum("n").alias("t"))
    return pairs.join(F.broadcast(tot), "from_type").select(
        "from_type",
        "to_type",
        F.col("n").cast("long").alias("n_transitions"),
        F.round(F.col("n").cast("double") / F.col("t"), 6).alias("prob"),
    )


@register(
    "event_pair_affinity",
    # association-rule mining over (user, day) baskets: pairwise
    # co-occurrence support and lift for event types, min-support 5 —
    # the frequent-itemset primitive, bounded to type pairs
    oracle="""
    WITH baskets AS (
      SELECT DISTINCT user_id,
             CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
             event_type
      FROM events
    ),
    n_baskets AS (
      SELECT CAST(COUNT(DISTINCT (user_id, day)) AS DOUBLE) AS nb FROM baskets
    ),
    item AS (SELECT event_type, COUNT(*) AS c FROM baskets GROUP BY event_type),
    pair AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b, COUNT(*) AS c_ab
      FROM baskets a JOIN baskets b
        ON a.user_id = b.user_id AND a.day = b.day AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT p.type_a, p.type_b, CAST(p.c_ab AS BIGINT) AS n_cobaskets,
           ROUND(p.c_ab / nb.nb, 6) AS support,
           ROUND((p.c_ab / nb.nb) / ((ia.c / nb.nb) * (ib.c / nb.nb)), 6) AS lift
    FROM pair p
    JOIN item ia ON ia.event_type = p.type_a
    JOIN item ib ON ib.event_type = p.type_b
    CROSS JOIN n_baskets nb
    WHERE p.c_ab >= 5
    """,
    tags=("temporal", "association-rules", "frequent-itemsets"),
)
def event_pair_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule mining (the frequent-itemset/market-basket
    primitive): treat each (user, day) as a basket of event types and
    report every type pair's co-occurrence count, support, and lift
    (lift > 1 = the types co-occur more than independence predicts). The
    pairwise-only bound is the classic first Apriori level — at k types
    the pair space is k², never basket².

    Scale shape: baskets are a distinct projection (one dedup shuffle);
    the pair join is basket-keyed (user, day) so it enumerates pairs
    WITHIN baskets only — cost Σ|basket|², with |basket| ≤ k event types;
    item counts and the basket total broadcast."""
    e = load_table(spark, sf_dir, "events")
    baskets = e.select(
        "user_id", utc_day("ts").alias("day"), "event_type"
    ).distinct()
    nb = baskets.agg(
        F.countDistinct("user_id", "day").cast("double").alias("nb")
    )
    item = baskets.groupBy("event_type").agg(F.count("*").alias("c"))
    a = baskets.alias("a")
    b = baskets.alias("b")
    pair = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.day") == F.col("b.day"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"), F.col("b.event_type").alias("type_b")
        )
        .agg(F.count("*").alias("c_ab"))
        .filter(F.col("c_ab") >= 5)
    )
    ia = item.select(F.col("event_type").alias("type_a"), F.col("c").alias("ca"))
    ib = item.select(F.col("event_type").alias("type_b"), F.col("c").alias("cb"))
    return (
        pair.join(F.broadcast(ia), "type_a")
        .join(F.broadcast(ib), "type_b")
        .crossJoin(F.broadcast(nb))
        .select(
            "type_a",
            "type_b",
            F.col("c_ab").cast("long").alias("n_cobaskets"),
            F.round(F.col("c_ab") / F.col("nb"), 6).alias("support"),
            F.round(
                (F.col("c_ab") / F.col("nb"))
                / ((F.col("ca") / F.col("nb")) * (F.col("cb") / F.col("nb"))),
                6,
            ).alias("lift"),
        )
    )


@register(
    "daily_ewma_smoothing",
    # EWMA (α = 0.25) of daily event counts per type, via the CLOSED FORM
    # s_t = Σ α(1−α)^(t−i) x_i + (1−α)^t x_0 — no recursion, so both
    # engines compute it with windows/joins. α = 1/4 makes every
    # (1−α)^k = 3^k/4^k EXACTLY representable (3^k < 2^53 for k ≤ 33) and
    # 4dp rounding absorbs the remaining formulation difference (oracle:
    # direct powers via self-join; Spark: factored running sum) — 6dp with
    # α = 0.3 hit a real .5e-6 boundary at sf0.1
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
             CAST(COUNT(*) AS DOUBLE) AS n
      FROM events GROUP BY 1, 2
    ),
    idx AS (
      SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY day) - 1 AS t
      FROM daily
    )
    SELECT a.event_type, a.day, CAST(ANY_VALUE(a.n) AS BIGINT) AS n_events,
           ROUND(SUM(0.25 * POWER(0.75, a.t - b.t) * b.n)
                 + POWER(0.75, ANY_VALUE(a.t) + 1) * FIRST(b.n ORDER BY b.t), 4) AS ewma
    FROM idx a JOIN idx b ON b.event_type = a.event_type AND b.t <= a.t
    GROUP BY a.event_type, a.day, a.t
    """,
    tags=("temporal", "time-series", "ewma", "smoothing"),
)
def daily_ewma_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average (α = 0.25) of daily event
    counts per type — the time-series smoothing behind monitoring
    baselines and anomaly thresholds. EWMA's recursion
    s_t = αx_t + (1−α)s_{t−1} is re-expressed in closed form so it runs
    as ONE ordered window per series: a running sum of α·x_i/(1−α)^i
    re-scaled by (1−α)^t, plus the (1−α)^t·x_0 seed term — O(T) per
    series, no iterative driver loop, no UDF.

    The factored running sum is computed PER 512-ROW BLOCK so every pow()
    exponent stays bounded in [-511, 3·512]: a naive global factoring
    multiplies by (4/3)^t, which overflows double for series past ~2,460
    days. Blocks separated by ≥2 carry < 0.75^1024 ≈ 1e-128 relative
    weight, so the 2-block carry is exact far below the 4dp rounding for
    series of ANY length — no series-length bound.

    Scale shape: the daily rollup is one bounded aggregation; the window
    partitions by event_type (series are short by construction — days,
    not events); block summaries are one bounded agg + a broadcast-sized
    join back. The oracle computes the same closed form with explicit
    power-weighted self-join — an independent formulation, so agreement
    checks the algebra, not just the code."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", utc_day("ts").alias("day")
    ).agg(F.count("*").cast("double").alias("n"))
    sm = ewma_closed_form(daily, ["event_type"], "day", "n", alpha=0.25)
    return sm.select(
        "event_type",
        "day",
        F.col("n").cast("long").alias("n_events"),
        F.round("ewma", 4).alias("ewma"),
    )


@register(
    "hourly_percentile_bands",
    # the observability staple: exact p50/p95/p99 of the value metric per
    # (hour-of-day, event_type) — time-bucketed percentile bands
    oracle="""
    SELECT CAST(hour(CAST(ts AS TIMESTAMP)) AS INT) AS hour_of_day, event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(quantile_cont(value, 0.5), 6) AS p50,
           ROUND(quantile_cont(value, 0.95), 6) AS p95,
           ROUND(quantile_cont(value, 0.99), 6) AS p99
    FROM events GROUP BY 1, 2
    """,
    tags=("temporal", "percentiles", "observability"),
)
def hourly_percentile_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bucketed percentile bands — the latency/size dashboard query of
    every observability stack: exact p50/p95/p99 of the value metric per
    (hour-of-day, event_type). Exact interpolated percentiles match
    DuckDB's quantile_cont definition; `approx_sketch_aggs` documents the
    mergeable-sketch switch for the same shape at 100 TB.

    Scale shape: one shuffle on the (hour, type) composite key; the three
    bands are one `exact_percentile` call, so each group ships its values
    as one array and sorts it once (an ObjectHashAggregate, no codegen;
    `value` is near-distinct, where the sorted array beats `percentile`'s
    value→count map); groups are bounded (24 × types)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.hour("ts").cast("int").alias("hour_of_day"), "event_type"
        )
        .agg(
            F.count("*").alias("n"),
            exact_percentile("value", (0.5, 0.95, 0.99)).alias("_p"),
        )
        .select(
            "hour_of_day",
            "event_type",
            "n",
            F.round(F.col("_p")[0], 6).alias("p50"),
            F.round(F.col("_p")[1], 6).alias("p95"),
            F.round(F.col("_p")[2], 6).alias("p99"),
        )
    )


@register(
    "ewma_anomaly_flags",
    # one-step-ahead EWMA forecast residuals + per-series MAD threshold:
    # the standard monitoring anomaly detector (EWMA control chart,
    # Roberts 1959) over daily event counts. Residuals and the threshold
    # are 4dp-rounded before comparing in BOTH engines so a float-noise
    # boundary cannot flip a flag.
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
             CAST(COUNT(*) AS DOUBLE)
               * CASE WHEN dayofmonth(CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE)) = 15
                      THEN 10 ELSE 1 END AS n
      FROM events GROUP BY 1, 2
    ),
    idx AS (
      SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY day) - 1 AS t
      FROM daily
    ),
    ewma AS (
      SELECT a.event_type, a.t,
             SUM(0.25 * POWER(0.75, a.t - b.t) * b.n)
               + POWER(0.75, ANY_VALUE(a.t) + 1) * FIRST(b.n ORDER BY b.t) AS s
      FROM idx a JOIN idx b ON b.event_type = a.event_type AND b.t <= a.t
      GROUP BY a.event_type, a.t
    ),
    resid AS (
      SELECT i.event_type, i.day, i.t,
             ROUND(i.n - e.s, 4) AS r
      FROM idx i JOIN ewma e ON e.event_type = i.event_type AND e.t = i.t - 1
    ),
    stats AS (
      SELECT event_type,
             quantile_cont(r, 0.5) AS med
      FROM resid GROUP BY event_type
    ),
    mad AS (
      SELECT r.event_type,
             ROUND(3 * 1.4826 * quantile_cont(abs(r.r - s.med), 0.5), 4) AS thr
      FROM resid r JOIN stats s USING (event_type) GROUP BY r.event_type
    )
    SELECT r.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(CASE WHEN abs(r.r) > m.thr THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies,
           CAST(COALESCE(SUM(CASE WHEN abs(r.r) > m.thr
                                  THEN CAST(r.day - DATE '1970-01-01' AS BIGINT) END), 0)
                AS BIGINT) AS anomaly_day_checksum,
           ROUND(MAX(abs(r.r)), 4) AS max_abs_residual
    FROM resid r JOIN mad m USING (event_type)
    GROUP BY r.event_type
    """,
    tags=("temporal", "time-series", "anomaly", "ewma", "monitoring"),
)
def ewma_anomaly_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA control-chart anomaly detection over daily event counts — the
    classic monitoring detector (Roberts 1959): each day's count is
    compared against the PREVIOUS day's EWMA (a one-step-ahead forecast);
    days whose absolute residual exceeds 3x the MAD-scaled residual
    spread of their own series are flagged. Composes the block-rescaled
    `ewma_closed_form` operator with lag + exact grouped medians; emits
    per-series counts, an anomaly-day checksum, and the max residual.
    Deterministic 10x spikes are PLANTED on every day-of-month-15 (both
    engines), so the flag path is value-checked non-vacuously: each spike
    day and its EWMA-recovery tail must be flagged, and the natural days
    must not be.

    Scale shape: the rollup and residual lag are one series-keyed window
    chain; medians are exact per-series percentiles (series are
    days-long); everything downstream of the daily aggregation is bounded
    by (types x days). Residuals/threshold 4dp-rounded pre-compare in
    both engines — no float-boundary flag flips."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    daily = (
        e.groupBy("event_type", utc_day("ts").alias("day"))
        .agg(F.count("*").cast("double").alias("n_raw"))
        .select(
            "event_type",
            "day",
            (
                F.col("n_raw")
                * F.when(F.dayofmonth("day") == 15, F.lit(10.0)).otherwise(F.lit(1.0))
            ).alias("n"),
        )
    )
    sm = ewma_closed_form(daily, ["event_type"], "day", "n", alpha=0.25)
    w = Window.partitionBy("event_type").orderBy("day")
    resid = (
        sm.withColumn("prev_s", F.lag("ewma").over(w))
        .filter(F.col("prev_s").isNotNull())
        .select("event_type", "day", F.round(F.col("n") - F.col("prev_s"), 4).alias("r"))
    )
    stats = resid.groupBy("event_type").agg(F.expr("percentile(r, 0.5)").alias("med"))
    mad = (
        resid.join(stats, "event_type")
        .groupBy("event_type")
        .agg(
            F.round(
                3 * MAD_CONSISTENCY * F.expr("percentile(abs(r - med), 0.5)"), 4
            ).alias("thr")
        )
    )
    flagged = resid.join(F.broadcast(mad), "event_type")
    return flagged.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_days"),
        F.sum((F.abs("r") > F.col("thr")).cast("long")).alias("n_anomalies"),
        F.coalesce(
            F.sum(F.when(F.abs("r") > F.col("thr"), F.datediff(F.col("day"), F.lit("1970-01-01")))),
            F.lit(0),
        )
        .cast("long")
        .alias("anomaly_day_checksum"),
        F.round(F.max(F.abs("r")), 4).alias("max_abs_residual"),
    )


@register(
    "rolling_correlation",
    # 14-day rolling Pearson correlation between the view and click
    # daily-count series — the co-movement monitor behind metric
    # dashboards. Same closed-form rolling-sums formula in both engines
    # (n·Σxy − ΣxΣy) / sqrt((nΣx²−(Σx)²)(nΣy²−(Σy)²)), 6dp.
    oracle="""
    WITH daily AS (
      SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
             CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS DOUBLE) AS x,
             CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS DOUBLE) AS y
      FROM events GROUP BY 1
    ),
    rolled AS (
      SELECT day,
             COUNT(*) OVER w AS n,
             SUM(x) OVER w AS sx, SUM(y) OVER w AS sy,
             SUM(x * y) OVER w AS sxy,
             SUM(x * x) OVER w AS sxx, SUM(y * y) OVER w AS syy
      FROM daily
      WINDOW w AS (ORDER BY day ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    )
    SELECT day,
           ROUND((n * sxy - sx * sy)
                 / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS corr_14d
    FROM rolled
    WHERE n = 14 AND (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
    """,
    tags=("temporal", "time-series", "rolling", "correlation"),
)
def rolling_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 14-day Pearson correlation between two daily event-count
    series (views vs clicks) — the bivariate sibling of the EWMA/percentile
    monitors: does engagement co-move with traffic this fortnight? The
    correlation is computed from six rolling sums in ONE window pass
    (n, Σx, Σy, Σxy, Σx², Σy²) and the closed form — never a per-window
    re-aggregation. Windows with fewer than 14 days or zero variance in
    either series are dropped (both engines identically).

    Scale shape: one bounded daily rollup, one ordered window with six
    running sums sharing a single frame. A single global day series is
    inherently one partition — per-series partitioning applies the moment
    a series key is added (cf. `daily_ewma_smoothing`)."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(utc_day("ts").alias("day")).agg(
        F.sum((F.col("event_type") == "view").cast("int")).cast("double").alias("x"),
        F.sum((F.col("event_type") == "click").cast("int")).cast("double").alias("y"),
    )
    w = Window.orderBy("day").rowsBetween(-13, Window.currentRow)
    rolled = daily.select(
        "day",
        F.count("*").over(w).alias("n"),
        F.sum("x").over(w).alias("sx"),
        F.sum("y").over(w).alias("sy"),
        F.sum(F.col("x") * F.col("y")).over(w).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(w).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).over(w).alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return (
        rolled.filter((F.col("n") == 14) & (vx > 0) & (vy > 0))
        .select("day", F.round(num / F.sqrt(vx * vy), 6).alias("corr_14d"))
    )


@register(
    "seasonal_decomposition",
    # classical additive decomposition (the statsmodels seasonal_decompose
    # recipe, Kendall & Stuart): centered 7-day moving-average trend,
    # day-of-week seasonal means over the detrended series, residual
    # variance — per event-type daily counts, 6dp both engines.
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
             CAST(COUNT(*) AS DOUBLE) AS n
      FROM events GROUP BY 1, 2
    ),
    trended AS (
      SELECT event_type, day, n,
             CASE WHEN COUNT(*) OVER w = 7 THEN AVG(n) OVER w END AS trend
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    detr AS (
      SELECT event_type, dayofweek(day) AS dow, n - trend AS d
      FROM trended WHERE trend IS NOT NULL
    ),
    seas AS (
      SELECT event_type, dow, COUNT(*) AS n_days, AVG(d) AS s
      FROM detr GROUP BY 1, 2
    ),
    resid AS (
      SELECT d.event_type, d.dow,
             var_samp(d.d - s.s) AS rv
      FROM detr d JOIN seas s ON s.event_type = d.event_type AND s.dow = d.dow
      GROUP BY 1, 2
    )
    SELECT s.event_type, CAST(s.dow AS INT) AS day_of_week,
           CAST(s.n_days AS BIGINT) AS n_days,
           ROUND(s.s, 6) AS seasonal_idx,
           ROUND(r.rv, 6) AS residual_variance
    FROM seas s JOIN resid r ON r.event_type = s.event_type AND r.dow = s.dow
    """,
    tags=("temporal", "time-series", "seasonality", "decomposition"),
)
def seasonal_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition of daily event counts —
    the statsmodels `seasonal_decompose` recipe: trend = centered 7-day
    moving average (only full windows), seasonal component = day-of-week
    mean of the detrended series, residual variance per (series, dow).
    The weekday-shaped traffic in the fixture makes the indices
    non-trivial (weekend dips show as negative seasonal_idx).

    Scale shape: one bounded daily rollup, one series-keyed centered
    window, two bounded (type × 7) aggregations. DuckDB's dayofweek
    (0=Sunday) is matched by Spark's dayofweek−1."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", utc_day("ts").alias("day")
    ).agg(F.count("*").cast("double").alias("n"))
    w = Window.partitionBy("event_type").orderBy("day").rowsBetween(-3, 3)
    trended = daily.select(
        "event_type",
        "day",
        "n",
        F.when(F.count("*").over(w) == 7, F.avg("n").over(w)).alias("trend"),
    )
    detr = trended.filter(F.col("trend").isNotNull()).select(
        "event_type",
        (F.dayofweek("day") - 1).alias("dow"),
        (F.col("n") - F.col("trend")).alias("d"),
    )
    seas = detr.groupBy("event_type", "dow").agg(
        F.count("*").alias("n_days"), F.avg("d").alias("s")
    )
    resid = (
        detr.join(F.broadcast(seas.select("event_type", "dow", "s")), ["event_type", "dow"])
        .groupBy("event_type", "dow")
        .agg(F.var_samp(F.col("d") - F.col("s")).alias("rv"))
    )
    return seas.join(resid, ["event_type", "dow"]).select(
        "event_type",
        F.col("dow").cast("int").alias("day_of_week"),
        F.col("n_days").cast("long").alias("n_days"),
        F.round("s", 6).alias("seasonal_idx"),
        F.round("rv", 6).alias("residual_variance"),
    )


@register(
    "theil_sen_trend",
    # Theil-Sen robust trend per daily series: the MEDIAN of all pairwise
    # slopes (Sen 1968) — the standard outlier-resistant alternative to
    # OLS for monitoring trends. Pair enumeration is WITHIN a bounded
    # group (days of one series), never across series.
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
             CAST(COUNT(*) AS DOUBLE) AS n
      FROM events GROUP BY 1, 2
    ),
    idx AS (
      SELECT event_type, n,
             CAST(day - DATE '1970-01-01' AS DOUBLE) AS t
      FROM daily
    ),
    slopes AS (
      SELECT a.event_type, (b.n - a.n) / (b.t - a.t) AS s
      FROM idx a JOIN idx b
        ON b.event_type = a.event_type AND b.t > a.t
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           ROUND(quantile_cont(s, 0.5), 6) AS theil_sen_slope
    FROM slopes GROUP BY event_type
    """,
    tags=("temporal", "time-series", "robust", "trend"),
)
def theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend slope per daily event-count series — the
    median of all pairwise slopes (Sen 1968; up to 29.3% breakdown
    point vs OLS's 0%): is traffic trending up even with spike days?
    Complements `ewma_anomaly_flags` (which finds the spikes this
    estimator ignores).

    Scale shape: the corpus collapses to (series × days) first, so the
    pairwise-slope enumeration is bounded by days²/2 PER SERIES — a
    within-group self-join on the series key, never cross-series, and
    never over raw events. Exact in-group median via percentile."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", utc_day("ts").alias("day")
    ).agg(F.count("*").cast("double").alias("n"))
    idx = daily.select(
        "event_type",
        "n",
        F.datediff("day", F.lit("1970-01-01")).cast("double").alias("t"),
    )
    a = idx.alias("a")
    b = idx.alias("b")
    slopes = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type")) & (F.col("b.t") > F.col("a.t")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        ((F.col("b.n") - F.col("a.n")) / (F.col("b.t") - F.col("a.t"))).alias("s"),
    )
    return slopes.groupBy("event_type").agg(
        F.count("*").alias("n_pairs"),
        F.round(F.expr("percentile(s, 0.5)"), 6).alias("theil_sen_slope"),
    )


@register(
    "autocorrelation_lags",
    # sample autocorrelation function (Box & Jenkins) of per-type daily
    # counts at lags 1..7, with the +-1.96/sqrt(T) white-noise band flag
    # — the periodicity DETECTOR next to seasonal_decomposition (which
    # ASSUMES period 7; the ACF is how you discover it). All 7 lags in
    # one window pass; 6dp both engines.
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
             CAST(COUNT(*) AS DOUBLE) AS n
      FROM events GROUP BY 1, 2
    ),
    stats AS (
      SELECT event_type, AVG(n) AS mu, COUNT(*) AS cnt,
             SUM(n * n) - COUNT(*) * AVG(n) * AVG(n) AS ss
      FROM daily GROUP BY event_type
    ),
    lagged AS (
      SELECT event_type, n,
             lag(n, 1) OVER w AS l1, lag(n, 2) OVER w AS l2,
             lag(n, 3) OVER w AS l3, lag(n, 4) OVER w AS l4,
             lag(n, 5) OVER w AS l5, lag(n, 6) OVER w AS l6,
             lag(n, 7) OVER w AS l7
      FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)
    ),
    terms AS (
      SELECT l.event_type, k.lag, l.n,
             CASE k.lag WHEN 1 THEN l1 WHEN 2 THEN l2 WHEN 3 THEN l3
                        WHEN 4 THEN l4 WHEN 5 THEN l5 WHEN 6 THEN l6
                        ELSE l7 END AS lv
      FROM lagged l CROSS JOIN (SELECT unnest(range(1, 8)) AS lag) k
    ),
    acf AS (
      SELECT t.event_type, t.lag,
             SUM((t.n - s.mu) * (t.lv - s.mu)) AS num,
             ANY_VALUE(s.ss) AS ss, ANY_VALUE(s.cnt) AS cnt
      FROM terms t JOIN stats s ON s.event_type = t.event_type
      WHERE t.lv IS NOT NULL
      GROUP BY 1, 2
    )
    SELECT event_type, CAST(lag AS INT) AS lag,
           ROUND(num / ss, 6) AS acf,
           ABS(num / ss) > 1.96 / sqrt(cnt) AS outside_band
    FROM acf
    """,
    tags=("temporal", "timeseries", "acf"),
)
def autocorrelation_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample autocorrelation function (Box & Jenkins) of per-event-type
    daily counts at lags 1..7, flagged against the +-1.96/sqrt(T)
    white-noise confidence band — the periodicity detector that
    complements `seasonal_decomposition` (which assumes period 7; the
    ACF is how a monitoring pipeline discovers the period and whether
    seasonality is significant at all). ACF_k = sum over overlapping
    observations of (x_t - mu)(x_{t-k} - mu) / sum (x_t - mu)^2 with
    the global series mean/variance (the standard biased estimator).

    Scale shape: one bounded daily rollup, then ALL SEVEN lags from a
    single ordered window pass (one sort, seven lag columns, stack to
    long form), one bounded aggregation per (type, lag) — work is
    O(series-length x 7) after the rollup, never a per-lag re-sort.
    The band flag compares the unrounded ratio; the emitted acf is
    6dp-rounded for cross-engine hashing."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", utc_day("ts").alias("day")
    ).agg(F.count("*").cast("double").alias("n"))
    acf = lag_covariances(daily, "event_type", "day", "n", 7)
    ratio = F.col("num") / F.col("ss")
    return acf.select(
        "event_type",
        F.col("lag").cast("int").alias("lag"),
        F.round(ratio, 6).alias("acf"),
        (F.abs(ratio) > 1.96 / F.sqrt(F.col("cnt"))).alias("outside_band"),
    )


@register(
    "cusum_changepoints",
    # two-sided CUSUM control chart (Page 1954) over daily event counts
    # with PLANTED level shifts from day-of-month 20 (x2 up; x0.5 down
    # for 'view') in both engines,
    # the ewma_anomaly_flags planting technique) so the detection path is
    # value-checked non-vacuously. The recursion S+_t = max(0, S+_{t-1}
    # + d_t) is window-expressible via the prefix-sum identity
    # S+_t = P_t - min(0, min_{j<=t} P_j) — no fold, one ordered pass.
    # 4dp-rounded on BOTH sides of the threshold compare.
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
             CAST(COUNT(*) AS DOUBLE)
               * CASE WHEN dayofmonth(CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE)) >= 20
                      THEN (CASE WHEN event_type = 'view' THEN 0.5 ELSE 2 END)
                      ELSE 1 END AS n
      FROM events GROUP BY 1, 2
    ),
    ref AS (
      SELECT event_type, AVG(n) AS mu0,
             sqrt(AVG(n * n) - AVG(n) * AVG(n)) AS sigma0
      FROM daily WHERE dayofmonth(day) < 20 GROUP BY event_type
    ),
    pre AS (
      SELECT d.event_type, d.day, r.sigma0,
             SUM(d.n - r.mu0 - 0.5 * r.sigma0)
               OVER (PARTITION BY d.event_type ORDER BY d.day
                     ROWS UNBOUNDED PRECEDING) AS p_up,
             SUM(d.n - r.mu0 + 0.5 * r.sigma0)
               OVER (PARTITION BY d.event_type ORDER BY d.day
                     ROWS UNBOUNDED PRECEDING) AS p_dn
      FROM daily d JOIN ref r ON r.event_type = d.event_type
    ),
    cusum AS (
      SELECT event_type, day, sigma0,
             p_up - LEAST(0, MIN(p_up) OVER (PARTITION BY event_type ORDER BY day
                                             ROWS UNBOUNDED PRECEDING)) AS s_up,
             GREATEST(0, MAX(p_dn) OVER (PARTITION BY event_type ORDER BY day
                                         ROWS UNBOUNDED PRECEDING)) - p_dn AS s_dn
      FROM pre
    )
    SELECT event_type, day,
           ROUND(s_up, 4) AS cusum_pos, ROUND(s_dn, 4) AS cusum_neg,
           ROUND(s_up, 4) > ROUND(4 * sigma0, 4) AS shift_up,
           ROUND(s_dn, 4) > ROUND(4 * sigma0, 4) AS shift_down
    FROM cusum
    WHERE ROUND(s_up, 4) > ROUND(4 * sigma0, 4)
       OR ROUND(s_dn, 4) > ROUND(4 * sigma0, 4)
    """,
    tags=("temporal", "timeseries", "changepoint", "monitoring"),
)
def cusum_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided CUSUM changepoint detection (Page, Biometrika 1954 — the
    classic sequential level-shift detector, complementing the EWMA
    chart's spike detection and the ACF's periodicity): per event type,
    daily counts against in-control mean/std estimated from the
    pre-shift reference days, slack k = 0.5 sigma, decision interval
    h = 4 sigma; emits the days where either one-sided statistic exceeds
    h. Deterministic level shifts are PLANTED from day-of-month 20 in
    BOTH engines — x2 for most types, x0.5 for 'view' — so BOTH
    one-sided paths fire non-vacuously and their exact onset days are
    hash-checked.

    Scale shape: the recursion S+_t = max(0, S+_{t-1} + d_t) looks
    sequential but is window-expressible through the prefix-sum identity
    S+_t = P_t - min(0, min_{j<=t} P_j) (reset-at-zero = subtracting the
    running minimum), so the whole detector is one bounded daily rollup
    + two ordered window passes per series — no fold, no UDF, and
    per-series partitioning parallelizes across series exactly like the
    EWMA chart. Thresholds compare 4dp-rounded values on both sides so
    float noise cannot flip a flag."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    day = utc_day("ts")
    spike = F.when(
        F.dayofmonth("day") >= 20,
        F.when(F.col("event_type") == "view", F.lit(0.5)).otherwise(F.lit(2.0)),
    ).otherwise(F.lit(1.0))
    daily = (
        e.groupBy("event_type", day.alias("day"))
        .agg(F.count("*").cast("double").alias("raw_n"))
        .select("event_type", "day", (F.col("raw_n") * spike).alias("n"))
    )
    ref = (
        daily.filter(F.dayofmonth("day") < 20)
        .groupBy("event_type")
        .agg(
            F.avg("n").alias("mu0"),
            F.sqrt(F.avg(F.col("n") * F.col("n")) - F.avg("n") * F.avg("n")).alias("sigma0"),
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pre = daily.join(F.broadcast(ref), "event_type").select(
        "event_type",
        "day",
        "sigma0",
        F.sum(F.col("n") - F.col("mu0") - 0.5 * F.col("sigma0")).over(w).alias("p_up"),
        F.sum(F.col("n") - F.col("mu0") + 0.5 * F.col("sigma0")).over(w).alias("p_dn"),
    )
    s_up = F.col("p_up") - F.least(F.lit(0.0), F.min("p_up").over(w))
    s_dn = F.greatest(F.lit(0.0), F.max("p_dn").over(w)) - F.col("p_dn")
    cusum = pre.select(
        "event_type",
        "day",
        "sigma0",
        F.round(s_up, 4).alias("cusum_pos"),
        F.round(s_dn, 4).alias("cusum_neg"),
    )
    h = F.round(4 * F.col("sigma0"), 4)
    return (
        cusum.filter((F.col("cusum_pos") > h) | (F.col("cusum_neg") > h))
        .select(
            "event_type",
            "day",
            "cusum_pos",
            "cusum_neg",
            (F.col("cusum_pos") > h).alias("shift_up"),
            (F.col("cusum_neg") > h).alias("shift_down"),
        )
    )


def _durbin_levinson_pacf_exprs(max_lag: int = 5) -> dict[int, str]:
    """Durbin-Levinson recursion unrolled to SQL expressions over columns
    r1..r{max_lag} (sample ACF values): returns {lag: expr} where expr is
    phi_{k,k}, the partial autocorrelation at lag k. ONE generator feeds
    both engines (Spark via F.expr, DuckDB verbatim), so the recursion
    cannot drift between them. Expression size grows ~3^k; max_lag=5
    keeps fragments in the hundreds of characters (and the projection is
    pure scalar arithmetic — no explode, so no InferFiltersFromGenerate
    hazard)."""
    phi: dict[int, dict[int, str]] = {1: {1: "r1"}}
    out = {1: "r1"}
    for k in range(2, max_lag + 1):
        num = f"(r{k} - (" + " + ".join(
            f"({phi[k - 1][j]}) * r{k - j}" for j in range(1, k)
        ) + "))"
        den = "(1 - (" + " + ".join(
            f"({phi[k - 1][j]}) * r{j}" for j in range(1, k)
        ) + "))"
        pkk = f"({num} / {den})"
        phi[k] = {k: pkk}
        for j in range(1, k):
            phi[k][j] = f"(({phi[k - 1][j]}) - ({pkk}) * ({phi[k - 1][k - j]}))"
        out[k] = pkk
    return out


_PACF_EXPRS = _durbin_levinson_pacf_exprs(5)


def _pacf_oracle() -> str:
    selects = "\n    UNION ALL\n".join(
        f"    SELECT event_type, {k} AS lag, {expr} AS phi FROM acfw"
        for k, expr in _PACF_EXPRS.items()
    )
    return f"""
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
             CAST(COUNT(*) AS DOUBLE) AS n
      FROM events GROUP BY 1, 2
    ),
    stats AS (
      SELECT event_type, AVG(n) AS mu,
             SUM(n * n) - COUNT(*) * AVG(n) * AVG(n) AS ss
      FROM daily GROUP BY event_type
    ),
    lagged AS (
      SELECT event_type, n,
             lag(n, 1) OVER w AS l1, lag(n, 2) OVER w AS l2,
             lag(n, 3) OVER w AS l3, lag(n, 4) OVER w AS l4,
             lag(n, 5) OVER w AS l5
      FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)
    ),
    acfw AS (
      SELECT l.event_type,
             SUM(CASE WHEN l1 IS NOT NULL THEN (n - mu) * (l1 - mu) END) / ANY_VALUE(ss) AS r1,
             SUM(CASE WHEN l2 IS NOT NULL THEN (n - mu) * (l2 - mu) END) / ANY_VALUE(ss) AS r2,
             SUM(CASE WHEN l3 IS NOT NULL THEN (n - mu) * (l3 - mu) END) / ANY_VALUE(ss) AS r3,
             SUM(CASE WHEN l4 IS NOT NULL THEN (n - mu) * (l4 - mu) END) / ANY_VALUE(ss) AS r4,
             SUM(CASE WHEN l5 IS NOT NULL THEN (n - mu) * (l5 - mu) END) / ANY_VALUE(ss) AS r5
      FROM lagged l JOIN stats s ON s.event_type = l.event_type
      GROUP BY l.event_type
    )
    SELECT event_type, CAST(lag AS INT) AS lag, ROUND(phi, 6) AS pacf
    FROM (
{selects}
    )
    """


@register(
    "pacf_durbin_levinson",
    # Partial autocorrelation (Durbin 1960 / Levinson 1947 recursion on
    # the Yule-Walker equations) of per-type daily counts at lags 1..5 —
    # the AR-order identifier that pairs with `autocorrelation_lags` in
    # the Box-Jenkins workflow (ACF tails off / PACF cuts at p for an
    # AR(p)). The recursion is unrolled ONCE into SQL expressions shared
    # verbatim by both engines.
    oracle=_pacf_oracle(),
    tags=("temporal", "timeseries", "pacf"),
)
def pacf_durbin_levinson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial ACF at lags 1..5 per event-type daily-count series via the
    unrolled Durbin-Levinson recursion — phi_{k,k} answers "does lag k
    add predictive power AFTER regressing out lags 1..k-1", which the
    raw ACF (`autocorrelation_lags`) cannot: a pure AR(1) series shows
    geometric ACF at ALL lags but PACF zero beyond lag 1. Both engines
    evaluate the SAME generated expressions over the per-series ACF
    columns (one generator, no transcription), and an independent
    pure-Python Durbin-Levinson reference test guards the generator
    itself.

    Scale shape: one bounded daily rollup, one ordered window pass for
    all 5 lag columns (per-series partitions), one bounded per-series
    aggregation to the ACF row, then a PURE SCALAR projection per lag —
    the recursion costs nothing at any scale. 6dp rounding on output
    only."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", utc_day("ts").alias("day")
    ).agg(F.count("*").cast("double").alias("n"))
    stats = series_moments(daily, "event_type", "n")
    w = Window.partitionBy("event_type").orderBy("day")
    lagged = daily.select(
        "event_type",
        "n",
        *[F.lag("n", k).over(w).alias(f"l{k}") for k in range(1, 6)],
    )
    nm = F.col("n") - F.col("mu")
    acfw = (
        lagged.join(F.broadcast(stats), "event_type")
        .groupBy("event_type")
        .agg(
            *[
                (
                    F.sum(
                        F.when(
                            F.col(f"l{k}").isNotNull(),
                            nm * (F.col(f"l{k}") - F.col("mu")),
                        )
                    )
                    / F.first("ss")
                ).alias(f"r{k}")
                for k in range(1, 6)
            ]
        )
    )
    parts = [
        acfw.select(
            "event_type",
            F.lit(k).cast("int").alias("lag"),
            F.round(F.expr(expr), 6).alias("pacf"),
        )
        for k, expr in _PACF_EXPRS.items()
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@register(
    "ljung_box_test",
    # Ljung-Box portmanteau test (Ljung & Box 1978) per event type over
    # the daily-count series: Q = T(T+2) * sum_{k=1..7} acf_k^2/(T-k),
    # dof = 7 — the "is this series white noise at all" gate that the
    # per-lag ACF band flags of `autocorrelation_lags` approximate one
    # lag at a time. The ACF terms come from the same single-window
    # 7-lag construction (`stats.lag_covariances`).
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
             CAST(COUNT(*) AS DOUBLE) AS n
      FROM events GROUP BY 1, 2
    ),
    stats AS (
      SELECT event_type, AVG(n) AS mu, COUNT(*) AS cnt,
             SUM(n * n) - COUNT(*) * AVG(n) * AVG(n) AS ss
      FROM daily GROUP BY event_type
    ),
    lagged AS (
      SELECT event_type, n,
             lag(n, 1) OVER w AS l1, lag(n, 2) OVER w AS l2,
             lag(n, 3) OVER w AS l3, lag(n, 4) OVER w AS l4,
             lag(n, 5) OVER w AS l5, lag(n, 6) OVER w AS l6,
             lag(n, 7) OVER w AS l7
      FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)
    ),
    terms AS (
      SELECT l.event_type, k.lag, l.n,
             CASE k.lag WHEN 1 THEN l1 WHEN 2 THEN l2 WHEN 3 THEN l3
                        WHEN 4 THEN l4 WHEN 5 THEN l5 WHEN 6 THEN l6
                        ELSE l7 END AS lv
      FROM lagged l CROSS JOIN (SELECT unnest(range(1, 8)) AS lag) k
    ),
    acf AS (
      SELECT t.event_type, t.lag,
             SUM((t.n - s.mu) * (t.lv - s.mu)) / ANY_VALUE(s.ss) AS rho,
             ANY_VALUE(s.cnt) AS cnt
      FROM terms t JOIN stats s ON s.event_type = t.event_type
      WHERE t.lv IS NOT NULL
      GROUP BY 1, 2
    ),
    qterms AS (
      SELECT event_type, cnt, rho * rho / (cnt - lag) AS term FROM acf
    )
    SELECT event_type, CAST(ANY_VALUE(cnt) AS BIGINT) AS n_days,
           ROUND(ANY_VALUE(cnt) * (ANY_VALUE(cnt) + 2.0) * SUM(term), 6) AS ljung_box_q,
           CAST(COUNT(*) AS INT) AS dof
    FROM qterms GROUP BY event_type
    """,
    tags=("temporal", "timeseries", "acf", "portmanteau"),
)
def ljung_box_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau whiteness test (Ljung & Box 1978) per event
    type on the daily-count series: Q = T(T+2) * sum_{k=1..7}
    rho_k^2/(T-k) with 7 dof — the single-statistic "any
    autocorrelation at all?" gate a monitoring pipeline runs before
    fitting seasonal models, complementing `autocorrelation_lags`
    (which tests each lag separately) and `pacf_durbin_levinson`
    (which identifies the AR order once whiteness is rejected).

    Scale shape: identical to the ACF query, whose lag sums it composes
    (`stats.lag_covariances`: one bounded daily rollup, ONE ordered
    window pass producing all seven lag columns, a bounded (type x lag)
    aggregation), then rho_k = num/ss and a k-row closing aggregate."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", utc_day("ts").alias("day")
    ).agg(F.count("*").cast("double").alias("n"))
    acf = lag_covariances(daily, "event_type", "day", "n", 7)
    rho = F.col("num") / F.col("ss")
    terms = acf.select(
        "event_type", "cnt", (rho * rho / (F.col("cnt") - F.col("lag"))).alias("term")
    )
    cnt = F.first("cnt")
    return terms.groupBy("event_type").agg(
        cnt.cast("long").alias("n_days"),
        F.round(cnt * (cnt + F.lit(2.0)) * F.sum("term"), 6).alias("ljung_box_q"),
        F.count("*").cast("int").alias("dof"),
    )


@register(
    "holt_linear_forecast",
    # Holt's linear-trend double exponential smoothing (Holt 1957,
    # alpha=0.3, beta=0.2) per event type over the daily mean-value
    # series: final level/trend, the 3-step-ahead forecast, and the
    # one-step-ahead RMSE. Both engines run the IDENTICAL sequential
    # left fold — Spark F.aggregate over the ordered per-series array,
    # DuckDB list_reduce with the seed state packed as the first list
    # element (list_reduce has no init parameter) — same expressions in
    # the same order, so parity is float-exact before the 6dp round.
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
             AVG(value) AS v
      FROM events GROUP BY 1, 2
    ),
    series AS (
      SELECT event_type, list(v ORDER BY day) AS vals FROM daily GROUP BY event_type
      HAVING len(list(v ORDER BY day)) >= 3
    ),
    folded AS (
      SELECT event_type, len(vals) AS n,
             list_reduce(
               list_concat(
                 [[vals[1], vals[2] - vals[1], 0.0]],
                 list_transform(vals[3:], v -> [v, 0.0, 0.0])
               ),
               (acc, x) -> [
                 0.3 * x[1] + 0.7 * (acc[1] + acc[2]),
                 0.2 * ((0.3 * x[1] + 0.7 * (acc[1] + acc[2])) - acc[1]) + 0.8 * acc[2],
                 acc[3] + (x[1] - (acc[1] + acc[2])) * (x[1] - (acc[1] + acc[2]))
               ]
             ) AS st
      FROM series
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_days,
           ROUND(st[1], 6) AS level, ROUND(st[2], 6) AS trend,
           ROUND(st[1] + 3 * st[2], 6) AS forecast_3d,
           ROUND(sqrt(st[3] / (n - 2)), 6) AS rmse_one_step
    FROM folded
    """,
    tags=("temporal", "timeseries", "smoothing", "forecast"),
)
def holt_linear_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear-trend exponential smoothing (Holt 1957; alpha=0.3,
    beta=0.2) per event type on the daily mean-value series — the
    trend-aware forecaster between `daily_ewma_smoothing` (level only)
    and `seasonal_decomposition` (level+trend+period): seeds level with
    the first observation and trend with the first difference, folds
    l_t = a*x_t + (1-a)(l+b); b_t = g(l_t - l) + (1-g)b over the rest,
    and emits the final state, the 3-step forecast l + 3b, and the
    one-step-ahead RMSE (the in-sample fit quality). Series with n < 3
    days are excluded in BOTH engines: the trend seed needs two points
    and the RMSE denominator n-2 a third — and for n=1 Spark's
    F.slice("vals", 3, n-2) would error on a negative length.

    Scale shape: one bounded daily rollup, then ONE sequential fold per
    series over a ~30-90 element array (collect_list bounded by days,
    the coupled recursion is inherently sequential per series — series
    fold in parallel across the cluster). The DuckDB oracle runs the
    byte-identical fold via list_reduce, seed packed as element 0, so
    the float op order matches exactly."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy("event_type", utc_day("ts").alias("day")).agg(F.avg("value").alias("v"))
    # degenerate-series guard (see docstring)
    series = ordered_series(daily, "event_type", "day", "v").filter(F.col("n") >= 3)
    folded = series.select(
        "event_type",
        "n",
        F.aggregate(
            F.slice("vals", F.lit(3), F.size("vals") - 2),
            F.struct(
                F.element_at("vals", 1).alias("l"),
                (F.element_at("vals", 2) - F.element_at("vals", 1)).alias("b"),
                F.lit(0.0).alias("s"),
            ),
            lambda acc, x: F.struct(
                (0.3 * x + 0.7 * (acc["l"] + acc["b"])).alias("l"),
                (
                    0.2 * ((0.3 * x + 0.7 * (acc["l"] + acc["b"])) - acc["l"])
                    + 0.8 * acc["b"]
                ).alias("b"),
                (acc["s"] + (x - (acc["l"] + acc["b"])) * (x - (acc["l"] + acc["b"]))).alias("s"),
            ),
        ).alias("st"),
    )
    return folded.select(
        "event_type",
        F.col("n").cast("long").alias("n_days"),
        F.round(F.col("st.l"), 6).alias("level"),
        F.round(F.col("st.b"), 6).alias("trend"),
        F.round(F.col("st.l") + 3 * F.col("st.b"), 6).alias("forecast_3d"),
        F.round(F.sqrt(F.col("st.s") / (F.col("n") - 2)), 6).alias("rmse_one_step"),
    )


@register(
    "holt_winters_seasonal",
    # Additive Holt-Winters triple exponential smoothing (Winters 1960;
    # alpha=0.4, beta=0.1, gamma=0.3, period m=7) per event type over the
    # daily mean-value series: the seasonal-aware forecaster completing
    # the smoothing ladder (EWMA level -> Holt level+trend -> HW
    # level+trend+season). Seeds: level = mean of week 1, trend = (mean
    # of week 2 - mean of week 1)/7, seasonal_i = x_i - level for days
    # 1..7; then folds t=8..n with the classic recursions, rotating the
    # 7-slot seasonal register. Both engines run the IDENTICAL
    # sequential left fold — Spark F.aggregate with a (l, b, sse,
    # seasonal-array) struct, DuckDB list_reduce over flat 10-double
    # state packed [l, b, sse, s1..s7] with the seed as element 0 — same
    # expressions in the same order, so parity is float-exact before the
    # 6dp round.
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
             AVG(value) AS v
      FROM events GROUP BY 1, 2
    ),
    series AS (
      SELECT event_type, list(v ORDER BY day) AS vals, len(list(v ORDER BY day)) AS n
      FROM daily GROUP BY event_type
    ),
    seeded AS (
      SELECT event_type, n, vals,
             list_reduce(vals[1:7], (a,b) -> a + b) / 7 AS l0,
             (list_reduce(vals[8:14], (a,b) -> a + b) / 7
              - list_reduce(vals[1:7], (a,b) -> a + b) / 7) / 7 AS b0,
             list_transform(vals[1:7],
                            x -> x - list_reduce(vals[1:7], (a,b) -> a + b) / 7) AS s0
      FROM series
    ),
    folded AS (
      SELECT event_type, n,
             list_reduce(
               list_concat(
                 [list_concat([l0, b0, 0.0], s0)],
                 list_transform(vals[8:], x -> [x, 0,0,0,0,0,0,0,0,0])
               ),
               (acc, x) -> [
                 0.4 * (x[1] - acc[4]) + 0.6 * (acc[1] + acc[2]),
                 0.1 * ((0.4 * (x[1] - acc[4]) + 0.6 * (acc[1] + acc[2])) - acc[1])
                   + 0.9 * acc[2],
                 acc[3] + (x[1] - (acc[1] + acc[2] + acc[4]))
                        * (x[1] - (acc[1] + acc[2] + acc[4])),
                 acc[5], acc[6], acc[7], acc[8], acc[9], acc[10],
                 0.3 * (x[1] - (0.4 * (x[1] - acc[4]) + 0.6 * (acc[1] + acc[2])))
                   + 0.7 * acc[4]
               ]
             ) AS st
      FROM seeded
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_days,
           ROUND(st[1], 6) AS level, ROUND(st[2], 6) AS trend,
           ROUND(st[1] + st[2] + st[4], 6) AS forecast_1d,
           ROUND(sqrt(st[3] / (n - 7)), 6) AS rmse_one_step
    FROM folded
    """,
    tags=("temporal", "timeseries", "smoothing", "forecast", "seasonal"),
)
def holt_winters_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive Holt-Winters (Winters 1960; alpha=0.4, beta=0.1,
    gamma=0.3, weekly period m=7) per event type on the daily
    mean-value series: level/trend seeds from the first two weeks,
    seasonal register seeded as week-1 deviations from its mean, then
    the classic three recursions folded over days 8..n with the 7-slot
    seasonal register rotated each step (front slot = the seasonal
    estimate applicable to the CURRENT step, so after processing day n
    the front is the next-day seasonal). Emits final level/trend, the
    one-step forecast l + b + s_front, and in-sample one-step RMSE.

    Scale shape: one bounded daily rollup (the only corpus-volume
    shuffle), then ONE sequential fold per series over a ~30-element
    array — series fold in parallel across the cluster; the coupled
    recursion is inherently sequential per series. The DuckDB oracle
    runs the byte-identical fold via list_reduce with the state packed
    as a flat 10-double list, so the float op order matches exactly."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy("event_type", utc_day("ts").alias("day")).agg(F.avg("value").alias("v"))
    series = ordered_series(daily, "event_type", "day", "v")

    def week_mean(start: int):
        return (
            F.aggregate(F.slice("vals", start, 7), F.lit(0.0), lambda a, x: a + x) / 7
        )

    seeded = series.select(
        "event_type",
        "n",
        "vals",
        week_mean(1).alias("l0"),
        ((week_mean(8) - week_mean(1)) / 7).alias("b0"),
        F.transform(F.slice("vals", 1, 7), lambda x: x - week_mean(1)).alias("s0"),
    )

    def _step(acc, x):
        shat = F.element_at(acc["s"], 1)
        lnew = 0.4 * (x - shat) + 0.6 * (acc["l"] + acc["b"])
        return F.struct(
            lnew.alias("l"),
            (0.1 * (lnew - acc["l"]) + 0.9 * acc["b"]).alias("b"),
            (
                acc["sse"]
                + (x - (acc["l"] + acc["b"] + shat)) * (x - (acc["l"] + acc["b"] + shat))
            ).alias("sse"),
            F.concat(
                F.slice(acc["s"], 2, 6),
                F.array(0.3 * (x - lnew) + 0.7 * shat),
            ).alias("s"),
        )

    folded = seeded.select(
        "event_type",
        "n",
        F.aggregate(
            F.slice("vals", 8, F.col("n") - 7),
            F.struct(
                F.col("l0").alias("l"),
                F.col("b0").alias("b"),
                F.lit(0.0).alias("sse"),
                F.col("s0").alias("s"),
            ),
            _step,
        ).alias("st"),
    )
    return folded.select(
        "event_type",
        F.col("n").cast("long").alias("n_days"),
        F.round(F.col("st.l"), 6).alias("level"),
        F.round(F.col("st.b"), 6).alias("trend"),
        F.round(F.col("st.l") + F.col("st.b") + F.element_at("st.s", 1), 6).alias(
            "forecast_1d"
        ),
        F.round(F.sqrt(F.col("st.sse") / (F.col("n") - 7)), 6).alias("rmse_one_step"),
    )


@register(
    "periodogram_peak",
    # Discrete-Fourier periodogram peak detection (Schuster 1898; the
    # classical hidden-periodicity detector) per event type over the
    # mean-centered daily series: I(k) = (a_k^2 + b_k^2) * 2/n at
    # Fourier frequencies k = 1..floor((n-1)/2), peak = argmax of the
    # 6dp-rounded power with smallest-k tie-break. The trig sums are
    # SEQUENTIAL left folds over t=1..n in both engines (not unordered
    # SUM aggregates), so float op order is deterministic and identical.
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
             AVG(value) AS v
      FROM events GROUP BY 1, 2
    ),
    series AS (
      SELECT event_type, list(v ORDER BY day) AS vals, len(list(v ORDER BY day)) AS n
      FROM daily GROUP BY event_type
      HAVING len(list(v ORDER BY day)) >= 3
    ),
    cent AS (
      SELECT event_type, n,
             list_transform(vals, x -> x - list_reduce(vals, (a,b) -> a + b) / n) AS c
      FROM series
    ),
    powers AS (
      SELECT event_type, n, k,
             ROUND((
               list_reduce(list_transform(generate_series(1, n),
                 t -> c[t] * cos(2.0 * pi() * k * t / n)), (a,b) -> a + b)
               * list_reduce(list_transform(generate_series(1, n),
                 t -> c[t] * cos(2.0 * pi() * k * t / n)), (a,b) -> a + b)
               + list_reduce(list_transform(generate_series(1, n),
                 t -> c[t] * sin(2.0 * pi() * k * t / n)), (a,b) -> a + b)
               * list_reduce(list_transform(generate_series(1, n),
                 t -> c[t] * sin(2.0 * pi() * k * t / n)), (a,b) -> a + b)
             ) * 2.0 / n, 6) AS power
      FROM cent, UNNEST(generate_series(1, CAST(FLOOR((n - 1) / 2.0) AS INT))) AS u(k)
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_days, CAST(k AS INT) AS peak_k,
           ROUND(CAST(n AS DOUBLE) / k, 6) AS peak_period_days, power AS peak_power
    FROM powers
    QUALIFY ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY power DESC, k ASC) = 1
    """,
    tags=("temporal", "timeseries", "spectral"),
)
def periodogram_peak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical DFT periodogram (Schuster 1898) per event type on the
    mean-centered daily series, reporting the dominant Fourier
    frequency: for k = 1..floor((n-1)/2), I(k) = (a_k^2 + b_k^2)*2/n
    with a_k = sum_t c_t cos(2 pi k t / n), b_k the sine sum — the
    spectral twin of `seasonal_decomposition` (which ASSUMES a weekly
    period; this DETECTS the period). Peak = max 6dp-rounded power,
    smallest-k tie-break; emits the implied period n/k in days. Series
    with n < 3 days carry no interior Fourier frequency (k range is
    empty) and are excluded in BOTH engines — without the guard Spark's
    F.sequence(1, 0) would count DOWN to [1, 0] while DuckDB's
    generate_series(1, 0) is empty, a latent divergence plus a bogus
    k=0 DC term.

    Scale shape: one bounded daily rollup, then all O(n^2/2) trig work
    (n = 30 days) runs as per-series array folds — k fans out to a
    bounded explode (14 rows/series), each a_k/b_k is a SEQUENTIAL
    F.aggregate fold over t (deterministic float order, mirrored by
    DuckDB list_reduce), never an unordered SUM shuffle. Corpus volume
    never re-enters after the rollup."""
    import math

    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy("event_type", utc_day("ts").alias("day")).agg(F.avg("value").alias("v"))
    # degenerate-series guard (see docstring)
    series = ordered_series(daily, "event_type", "day", "v").filter(F.col("n") >= 3)
    cent = series.select(
        "event_type",
        "n",
        F.transform(
            "vals",
            lambda x: x
            - F.aggregate("vals", F.lit(0.0), lambda a, b: a + b) / F.col("n"),
        ).alias("c"),
    )
    ks = cent.select(
        "event_type",
        "n",
        "c",
        F.explode(
            F.sequence(F.lit(1), F.floor((F.col("n") - 1) / 2.0).cast("int"))
        ).alias("k"),
    )
    two_pi = 2.0 * math.pi

    def trig_sum(fn):
        return F.aggregate(
            F.sequence(F.lit(1), F.col("n")),
            F.lit(0.0),
            lambda a, t: a
            + F.element_at(F.col("c"), t)
            * fn(F.lit(two_pi) * F.col("k") * t / F.col("n")),
        )

    powers = ks.select(
        "event_type",
        "n",
        "k",
        F.round(
            (trig_sum(F.cos) * trig_sum(F.cos) + trig_sum(F.sin) * trig_sum(F.sin))
            * 2.0
            / F.col("n"),
            6,
        ).alias("power"),
    )
    w = Window.partitionBy("event_type").orderBy(F.desc("power"), F.asc("k"))
    return (
        powers.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("n").cast("long").alias("n_days"),
            F.col("k").cast("int").alias("peak_k"),
            F.round(F.col("n").cast("double") / F.col("k"), 6).alias("peak_period_days"),
            F.col("power").alias("peak_power"),
        )
    )


@register(
    "dtw_pairwise_distance",
    # Dynamic time warping (Sakoe & Chiba 1978) between every pair of
    # event-type daily mean series: full n x m squared-cost DP,
    # D[i][j] = (a_i - b_j)^2 + min(D[i-1][j], D[i][j-1], D[i-1][j-1]),
    # run as a TWO-LEVEL sequential fold (outer over rows carrying the
    # previous DP row as an array, inner over columns building the new
    # row left-to-right — the in-row dependency makes this
    # fold-in-fold, not a window). The Euclidean (diagonal-path) cost
    # rides along, certifying DTW's defining property dtw <= euclid
    # in-query (the diagonal is one admissible warp, DTW minimizes
    # over all). Both engines run byte-identical fold order: Spark
    # nested F.aggregate, DuckDB nested list_reduce with scalars
    # packed as 1-element lists.
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
             AVG(value) AS v
      FROM events GROUP BY 1, 2
    ),
    series AS (
      SELECT event_type, list(v ORDER BY day) AS vals, len(list(v ORDER BY day)) AS n
      FROM daily GROUP BY event_type
    ),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             a.vals AS av, b.vals AS bv, a.n AS n, b.n AS m
      FROM series a JOIN series b ON a.event_type < b.event_type
    ),
    dp AS (
      SELECT type_a, type_b, n, m,
             list_reduce(
               list_concat(
                 [list_transform(generate_series(1, m), j -> 1e300)],
                 list_transform(generate_series(1, n), i -> [CAST(i AS DOUBLE)])
               ),
               (prev, x) -> list_reduce(
                 list_concat(
                   [CAST([] AS DOUBLE[])],
                   list_transform(generate_series(1, m), j -> [CAST(j AS DOUBLE)])
                 ),
                 (acc, y) -> list_concat(acc, [
                   (av[CAST(x[1] AS INT)] - bv[CAST(y[1] AS INT)])
                   * (av[CAST(x[1] AS INT)] - bv[CAST(y[1] AS INT)])
                   + LEAST(
                       prev[CAST(y[1] AS INT)],
                       CASE WHEN len(acc) = 0 THEN 1e300 ELSE acc[-1] END,
                       CASE WHEN y[1] = 1
                            THEN (CASE WHEN x[1] = 1 THEN 0.0 ELSE 1e300 END)
                            ELSE prev[CAST(y[1] AS INT) - 1] END
                     )
                 ])
               )
             ) AS lastrow,
             list_reduce(
               list_concat([0.0], list_transform(generate_series(1, LEAST(n, m)),
                                                 t -> CAST(t AS DOUBLE))),
               (a2, t) -> a2 + (av[CAST(t AS INT)] - bv[CAST(t AS INT)])
                             * (av[CAST(t AS INT)] - bv[CAST(t AS INT)])
             ) AS euclid
      FROM pairs
    )
    SELECT type_a, type_b, CAST(n AS BIGINT) AS n_days,
           ROUND(lastrow[-1], 6) AS dtw_sumsq,
           ROUND(lastrow[-1] / (n + m), 6) AS dtw_per_step,
           ROUND(euclid, 6) AS euclid_sumsq,
           CASE WHEN n <> m THEN NULL
                WHEN lastrow[-1] <= euclid * (1 + 1e-12) THEN 1 ELSE 0 END AS dtw_le_euclid
    FROM dp
    """,
    tags=("temporal", "timeseries", "similarity", "dtw"),
)
def dtw_pairwise_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic time warping distance (Sakoe & Chiba 1978) between every
    pair of event-type daily series — the alignment-invariant series
    similarity that Euclidean distance gets wrong when one series lags
    the other: the full squared-cost DP matrix is evaluated as a
    two-level sequential fold (outer F.aggregate carries the previous
    DP row as an array; inner F.aggregate builds each new row
    left-to-right, because D[i][j] needs D[i][j-1] — a dependency no
    window frame expresses). The diagonal-path (Euclidean) cost rides
    along and, for EQUAL-length pairs (n == m, where the diagonal is one
    admissible warping path and DTW minimizes over all of them), the
    query certifies dtw_sumsq <= euclid_sumsq — a property check that
    would catch any DP indexing bug instantly. For n != m the truncated
    diagonal sum is NOT an admissible path cost, so the certificate is
    NULL (both engines).

    Scale shape: one bounded daily rollup, then a 10-row bounded pair
    self-join; all O(n*m) DP work (900 cells/pair) is per-row array
    math, series pairs parallelize across the cluster, corpus volume
    never re-enters. Boundary conditions use a 1e300 sentinel exactly
    as the oracle does, so fold order and tie resolution are
    byte-identical across engines."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy("event_type", utc_day("ts").alias("day")).agg(F.avg("value").alias("v"))
    series = ordered_series(daily, "event_type", "day", "v")
    a, b = series.alias("a"), series.alias("b")
    # broadcast the (tiny, one-row-per-type) build side so the
    # inequality pair join plans as a bounded BroadcastNestedLoopJoin,
    # never a CartesianProduct — same contract as pairwise_ks
    pairs = a.join(F.broadcast(b), F.col("a.event_type") < F.col("b.event_type")).select(
        F.col("a.event_type").alias("type_a"),
        F.col("b.event_type").alias("type_b"),
        F.col("a.vals").alias("av"),
        F.col("b.vals").alias("bv"),
        F.col("a.n").alias("n"),
        F.col("b.n").alias("m"),
    )
    INF = F.lit(1e300)

    def _inner(prev, i):
        def _cell(acc, j):
            cost = (
                F.element_at(F.col("av"), i) - F.element_at(F.col("bv"), j)
            ) * (F.element_at(F.col("av"), i) - F.element_at(F.col("bv"), j))
            up = F.element_at(prev, j)
            left = F.when(F.size(acc) == 0, INF).otherwise(F.element_at(acc, -1))
            diag = F.when(
                j == 1, F.when(i == 1, F.lit(0.0)).otherwise(INF)
            ).otherwise(F.element_at(prev, j - 1))
            return F.concat(acc, F.array(cost + F.least(up, left, diag)))

        return F.aggregate(
            F.sequence(F.lit(1), F.col("m")),
            F.array().cast("array<double>"),
            _cell,
        )

    dp = pairs.select(
        "type_a",
        "type_b",
        "n",
        "m",
        F.aggregate(
            F.sequence(F.lit(1), F.col("n")),
            F.array_repeat(INF, F.col("m").cast("int")),
            _inner,
        ).alias("lastrow"),
        F.aggregate(
            F.sequence(F.lit(1), F.least(F.col("n"), F.col("m"))),
            F.lit(0.0),
            lambda a2, t: a2
            + (F.element_at(F.col("av"), t) - F.element_at(F.col("bv"), t))
            * (F.element_at(F.col("av"), t) - F.element_at(F.col("bv"), t)),
        ).alias("euclid"),
    )
    return dp.select(
        "type_a",
        "type_b",
        F.col("n").cast("long").alias("n_days"),
        F.round(F.element_at("lastrow", -1), 6).alias("dtw_sumsq"),
        F.round(F.element_at("lastrow", -1) / (F.col("n") + F.col("m")), 6).alias(
            "dtw_per_step"
        ),
        F.round("euclid", 6).alias("euclid_sumsq"),
        # the diagonal is an admissible warping path ONLY when n == m;
        # for unequal lengths the "euclid" sum truncates at min(n, m) and
        # is not a valid upper bound, so the certificate is NULL there
        F.when(F.col("n") != F.col("m"), F.lit(None).cast("int"))
        .when(F.element_at("lastrow", -1) <= F.col("euclid") * (1 + 1e-12), 1)
        .otherwise(0)
        .alias("dtw_le_euclid"),
    )


@register(
    "isotonic_daily_fit",
    # Isotonic (monotone nondecreasing) least-squares regression of the
    # daily mean-value series per event type, via the MINIMAX closed
    # form g(k) = max_{i<=k} min_{j>=k} mean(y[i..j]) (Robertson,
    # Wright & Dykstra 1988, Thm 1.4.4) — exactly the PAVA solution
    # without PAVA's sequential pool-merging state machine: every
    # fitted value is a pure array expression, O(n^3) per series with
    # n = 30 days. min/max are associative-commutative, so fold order
    # can't drift between engines; interval means are identical left
    # folds. The nondecreasing certificate rides along per row — the
    # defining constraint of the fit, checked in-query.
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
             AVG(value) AS v
      FROM events GROUP BY 1, 2
    ),
    series AS (
      SELECT event_type, list(v ORDER BY day) AS vals, len(list(v ORDER BY day)) AS n
      FROM daily GROUP BY event_type
    ),
    fit AS (
      SELECT event_type, n, vals,
             list_transform(generate_series(1, n), k ->
               list_max(
                 list_transform(generate_series(1, k), i ->
                   list_min(
                     list_transform(generate_series(k, n), j ->
                       list_reduce(vals[i:j], (a,b) -> a + b) / (j - i + 1)
                     )
                   )
                 )
               )
             ) AS g
      FROM series
    )
    SELECT event_type, CAST(u.k AS INT) AS k,
           ROUND(vals[u.k], 6) AS observed,
           ROUND(g[u.k], 6) AS fitted,
           CASE WHEN u.k = 1 OR g[u.k] >= g[u.k - 1] THEN 1 ELSE 0 END AS nondecreasing
    FROM fit, UNNEST(generate_series(1, CAST(n AS INT))) AS u(k)
    """,
    tags=("temporal", "timeseries", "regression", "isotonic"),
)
def isotonic_daily_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic least-squares fit (the monotone regression behind
    calibration curves and dose-response smoothing) of each event
    type's daily mean series, computed via the minimax identity
    g(k) = max_{i<=k} min_{j>=k} mean(y[i..j]) — provably equal to the
    PAVA solution (Robertson et al. 1988) but expressible as pure
    nested array math instead of PAVA's sequential pool-merge loop,
    which would need an order-dependent fold with dynamic state. Emits
    (day index, observed, fitted) per series plus the per-row
    nondecreasing certificate — the constraint that DEFINES the
    estimator, so any indexing bug fails the query visibly.

    Scale shape: one bounded daily rollup, then O(n^3) = 27k interval
    means per series as per-row array expressions (series parallelize
    across the cluster; corpus volume never re-enters). min/max are
    order-insensitive and interval means are identical left folds, so
    cross-engine parity is float-exact before the 6dp round."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy("event_type", utc_day("ts").alias("day")).agg(F.avg("value").alias("v"))
    series = ordered_series(daily, "event_type", "day", "v")

    def interval_mean(i, j):
        return F.aggregate(
            F.slice(F.col("vals"), i, j - i + 1), F.lit(0.0), lambda a, b: a + b
        ) / (j - i + 1)

    fit = series.select(
        "event_type",
        "n",
        "vals",
        F.transform(
            F.sequence(F.lit(1), F.col("n")),
            lambda k: F.array_max(
                F.transform(
                    F.sequence(F.lit(1), k),
                    lambda i: F.array_min(
                        F.transform(
                            F.sequence(k, F.col("n")),
                            lambda j: interval_mean(i, j),
                        )
                    ),
                )
            ),
        ).alias("g"),
    )
    rows = fit.select(
        "event_type",
        "vals",
        "g",
        F.explode(F.sequence(F.lit(1), F.col("n"))).alias("k"),
    )
    return rows.select(
        "event_type",
        F.col("k").cast("int").alias("k"),
        F.round(F.element_at("vals", F.col("k")), 6).alias("observed"),
        F.round(F.element_at("g", F.col("k")), 6).alias("fitted"),
        F.when(
            (F.col("k") == 1)
            | (F.element_at("g", F.col("k")) >= F.element_at("g", F.col("k") - 1)),
            1,
        )
        .otherwise(0)
        .alias("nondecreasing"),
    )


@register(
    "kendall_tau_daily",
    # Kendall tau-b rank correlation (Kendall 1938) between every pair
    # of event-type daily mean series, paired POSITIONALLY within each
    # day-sorted series (identical in both engines; for gappy series the
    # i-th observations may fall on different days):
    # S = sum over day pairs i<j of sign(a_i - a_j) sign(b_i - b_j),
    # tau_b = S / sqrt((n0 - t_a)(n0 - t_b)) with n0 = n(n-1)/2 and
    # tie-pair counts t_a, t_b, plus the normal z = 3S/sqrt(n(n-1)(2n+5)/2).
    # The concordance-based correlation completing the trio beside
    # grouped_correlation (Pearson, linear) and
    # spearman_rank_correlation (rank-linear): tau is a direct
    # probability statement, P(concordant) - P(discordant). S and the
    # tie counts are integer-valued sums of {-1,0,1} / {0,1} terms, so
    # cross-engine parity is exact regardless of summation order.
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
             AVG(value) AS v
      FROM events GROUP BY 1, 2
    ),
    series AS (
      SELECT event_type, list(v ORDER BY day) AS vals, len(list(v ORDER BY day)) AS n
      FROM daily GROUP BY event_type
    ),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             a.vals AS av, b.vals AS bv, a.n AS n
      FROM series a JOIN series b ON a.event_type < b.event_type
    ),
    stats AS (
      SELECT type_a, type_b, n,
             list_reduce(list_concat([0.0], flatten(
               list_transform(generate_series(1, n - 1), i ->
                 list_transform(generate_series(i + 1, n), j ->
                   sign(av[CAST(i AS INT)] - av[CAST(j AS INT)])
                   * sign(bv[CAST(i AS INT)] - bv[CAST(j AS INT)])
                 )
               ))), (a2, x) -> a2 + x) AS s,
             list_reduce(list_concat([0.0], flatten(
               list_transform(generate_series(1, n - 1), i ->
                 list_transform(generate_series(i + 1, n), j ->
                   CASE WHEN av[CAST(i AS INT)] = av[CAST(j AS INT)] THEN 1.0 ELSE 0.0 END
                 )
               ))), (a2, x) -> a2 + x) AS t1,
             list_reduce(list_concat([0.0], flatten(
               list_transform(generate_series(1, n - 1), i ->
                 list_transform(generate_series(i + 1, n), j ->
                   CASE WHEN bv[CAST(i AS INT)] = bv[CAST(j AS INT)] THEN 1.0 ELSE 0.0 END
                 )
               ))), (a2, x) -> a2 + x) AS t2
      FROM pairs
    )
    SELECT type_a, type_b, CAST(n AS BIGINT) AS n_days,
           CAST(s AS BIGINT) AS s_stat,
           ROUND(s / SQRT((n * (n - 1) / 2.0 - t1) * (n * (n - 1) / 2.0 - t2)), 6) AS tau_b,
           ROUND(3 * s / SQRT(n * (n - 1) * (2.0 * n + 5) / 2.0), 6) AS z
    FROM stats
    """,
    tags=("temporal", "stats", "correlation", "nonparametric"),
)
def kendall_tau_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b (Kendall 1938) between every pair of event-type
    daily series, paired POSITIONALLY within each day-sorted series —
    NOT by a day-key join: if one event type is missing a day, the i-th
    observations of the two series may fall on different days (both
    engines pair identically; `rolling_correlation` is the day-key-joined
    alternative) — the concordance
    correlation: tau estimates P(concordant) - P(discordant) directly,
    is robust to any monotone transform of either series, and its
    tau-b form corrects for ties on both sides. Completes the
    correlation trio (`grouped_correlation` Pearson,
    `spearman_rank_correlation` rank-linear). Also emits the S
    statistic and the normal z.

    Scale shape: one bounded daily rollup, a 10-row pair self-join,
    then all O(n^2/2) = 435 sign products per pair run as per-row
    nested array expressions (pairs parallelize across the cluster;
    corpus volume never re-enters). S and the tie counts are integer
    sums, so cross-engine parity is exact by construction."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy("event_type", utc_day("ts").alias("day")).agg(F.avg("value").alias("v"))
    series = ordered_series(daily, "event_type", "day", "v")
    a, b = series.alias("a"), series.alias("b")
    # broadcast build side: bounded BroadcastNestedLoopJoin, not a
    # CartesianProduct (registry-wide plan audit contract)
    pairs = a.join(F.broadcast(b), F.col("a.event_type") < F.col("b.event_type")).select(
        F.col("a.event_type").alias("type_a"),
        F.col("b.event_type").alias("type_b"),
        F.col("a.vals").alias("av"),
        F.col("b.vals").alias("bv"),
        F.col("a.n").alias("n"),
    )

    def pair_fold(term):
        return F.aggregate(
            F.flatten(
                F.transform(
                    F.sequence(F.lit(1), F.col("n") - 1),
                    lambda i: F.transform(
                        F.sequence(i + 1, F.col("n")), lambda j: term(i, j)
                    ),
                )
            ),
            F.lit(0.0),
            lambda a2, x: a2 + x,
        )

    av, bv = F.col("av"), F.col("bv")
    stats = pairs.select(
        "type_a",
        "type_b",
        "n",
        pair_fold(
            lambda i, j: F.signum(F.element_at(av, i) - F.element_at(av, j))
            * F.signum(F.element_at(bv, i) - F.element_at(bv, j))
        ).alias("s"),
        pair_fold(
            lambda i, j: F.when(
                F.element_at(av, i) == F.element_at(av, j), 1.0
            ).otherwise(0.0)
        ).alias("t1"),
        pair_fold(
            lambda i, j: F.when(
                F.element_at(bv, i) == F.element_at(bv, j), 1.0
            ).otherwise(0.0)
        ).alias("t2"),
    )
    n0 = F.col("n") * (F.col("n") - 1) / 2.0
    return stats.select(
        "type_a",
        "type_b",
        F.col("n").cast("long").alias("n_days"),
        F.col("s").cast("long").alias("s_stat"),
        F.round(
            F.col("s") / F.sqrt((n0 - F.col("t1")) * (n0 - F.col("t2"))), 6
        ).alias("tau_b"),
        F.round(
            3 * F.col("s")
            / F.sqrt(F.col("n") * (F.col("n") - 1) * (2.0 * F.col("n") + 5) / 2.0),
            6,
        ).alias("z"),
    )
