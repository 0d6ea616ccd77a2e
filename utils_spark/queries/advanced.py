"""Advanced composite operators: NA-handling, array row-aggregates, as-of
and range joins, pairwise KS tests, SimHash, knee detection, module scores.

These cover the reference's matrix-row operators (SURVEY §2.4 A12/A15-A18,
§2.5 W3) plus the operators Spark-lacks-but-scale-needs (as-of join, range
join — SURVEY task brief) and the full pairwise generalization of the
reference's declared-but-stubbed KS test (R/slingshot.R:113-121).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from utils_spark.functions import bits_to_long, simhash_bits
from utils_spark.io import load_table
from utils_spark.operators.stats import pairwise_ecdf, pairwise_ks_test
from utils_spark.registry import register


@register(
    "na_drop_subset",
    oracle="""
    WITH e AS (
      SELECT event_id, event_type,
             NULLIF(value, 0.0) AS v,
             CASE WHEN user_id % 7 = 0 THEN NULL ELSE user_id END AS uid
      FROM events
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(COUNT(CASE WHEN v IS NOT NULL AND uid IS NOT NULL THEN 1 END) AS BIGINT) AS n_complete,
           CAST(ROUND(SUM(v * 100)) AS BIGINT) / 100.0 / COUNT(v) AS avg_v_null_skipped
    FROM e GROUP BY event_type
    """,
    tags=("advanced", "P8", "nulls"),
)
def na_drop_subset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NA-handling surface (reference P8: R/reference.R:136-139 drop rows
    with NA in a column subset; §1.2 NULL semantics: Spark avg skips nulls
    like R na.rm=TRUE). NULLs synthesized deterministically via NULLIF."""
    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.nullif(F.col("value"), F.lit(0.0)).alias("v"),
        F.when(F.col("user_id") % 7 == 0, None).otherwise(F.col("user_id")).alias("uid"),
    )
    complete = F.col("v").isNotNull() & F.col("uid").isNotNull()
    # exact-integer-numerator avg (2dp-quantized data; see tumbling_window)
    exact_avg = F.round(F.sum(F.col("v") * 100)).cast("long") / 100.0 / F.count("v")
    return e.groupBy("event_type").agg(
        F.count("*").alias("n_total"),
        F.count(F.when(complete, 1)).alias("n_complete"),
        exact_avg.alias("avg_v_null_skipped"),
    )


@register(
    "strict_na_aggregation",
    # R-default NA semantics (na.rm=FALSE): any NULL poisons the aggregate.
    # Values are 2dp-quantized, so the 100x-scaled LONG sum is exact in
    # both engines and the mean is a deterministic integer/count division
    oracle="""
    WITH e AS (
      SELECT event_type,
             CASE WHEN event_id % 997 = 0 AND event_type <> 'click' THEN NULL
                  ELSE CAST(ROUND(value * 100) AS BIGINT) END AS v100
      FROM events
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(COUNT(*) - COUNT(v100) AS BIGINT) AS n_null,
           CASE WHEN COUNT(*) = COUNT(v100) THEN SUM(v100) / 100.0 END AS strict_sum_v,
           ROUND(CASE WHEN COUNT(*) = COUNT(v100) THEN AVG(v100) / 100.0 END, 6)
             AS strict_mean_v,
           ROUND(AVG(v100) / 100.0, 6) AS mean_na_rm
    FROM e GROUP BY event_type
    """,
    tags=("advanced", "nulls", "semantics"),
)
def strict_na_aggregation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R-DEFAULT NA aggregation semantics (SURVEY §1.2 semantics gap:
    R's ``mean(x)``/``sum(x)`` are NA-poisoning by default — na.rm=FALSE —
    while Spark's avg/sum silently skip NULLs, matching only the explicit
    na.rm=TRUE calls like R/slingshot.R:83). The ``strict_mean`` /
    ``strict_sum`` aggregates close the default case: NULL out the result
    when any input is NULL, detected by count(*) vs count(col) — zero
    extra passes, same single-shuffle plan. NULLs are synthesized
    deterministically (event_id % 997, sparing 'click' so a clean group
    always exists); poisoned and clean groups appear side by side with
    the null-skipping mean for contrast."""
    from utils_spark.functions import strict_mean, strict_sum

    poisoned = (F.col("event_id") % 997 == 0) & (F.col("event_type") != "click")
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.when(poisoned, None)
        .otherwise(F.round(F.col("value") * 100).cast("long"))
        .alias("v100"),
    )
    return e.groupBy("event_type").agg(
        F.count("*").alias("n_total"),
        (F.count("*") - F.count("v100")).cast("long").alias("n_null"),
        (strict_sum("v100") / 100.0).alias("strict_sum_v"),
        F.round(strict_mean("v100") / 100.0, 6).alias("strict_mean_v"),
        F.round(F.avg("v100") / 100.0, 6).alias("mean_na_rm"),
    )


@register(
    "array_row_aggs",
    oracle="""
    SELECT vec_id,
           ROUND(list_aggregate(CAST(embedding AS DOUBLE[]), 'median'), 6) AS row_median,
           ROUND(list_max(CAST(embedding AS DOUBLE[])), 6) AS row_max,
           ROUND(list_sum(CAST(embedding AS DOUBLE[])) / len(embedding), 6) AS row_mean,
           CASE WHEN len(list_filter(CAST(embedding AS DOUBLE[]), x -> x > 0)) > 0
                THEN 1 ELSE 0 END AS any_positive,
           CASE WHEN len(list_filter(CAST(embedding AS DOUBLE[]), x -> x > 0)) = len(embedding)
                THEN 1 ELSE 0 END AS all_positive
    FROM embeddings
    """,
    tags=("advanced", "A15", "A16", "A17", "A18"),
)
def array_row_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-wise aggregates over array columns — the reference's matrix row
    ops (A15 rowMedians R/compare_annotation.R:29; A16 row max :105;
    A17 rowMeans na.rm R/slingshot.R:83; A18 rowSums>0 flags
    R/wrapper.R:211). Exact median = mean of the two middle elements of the
    sorted (even-length) array. Pure array expressions, zero shuffle."""
    e = load_table(spark, sf_dir, "embeddings")
    v = F.transform("embedding", lambda x: x.cast("double"))
    srt = F.array_sort(v)
    n = F.size(v)
    # exact type-7 median for even/odd lengths
    mid_hi = F.element_at(srt, (n / 2 + 1).cast("int"))
    mid_lo = F.element_at(srt, ((n + 1) / 2).cast("int"))
    row_median = (mid_lo + mid_hi) / 2
    n_pos = F.size(F.filter(v, lambda x: x > 0))
    return e.select(
        "vec_id",
        F.round(row_median, 6).alias("row_median"),
        F.round(F.array_max(v), 6).alias("row_max"),
        F.round(F.aggregate(v, F.lit(0.0), lambda a, x: a + x) / n, 6).alias("row_mean"),
        F.when(n_pos > 0, 1).otherwise(0).alias("any_positive"),
        F.when(n_pos == n, 1).otherwise(0).alias("all_positive"),
    )


@register(
    "delta_from_median",
    oracle="""
    SELECT vec_id, label,
           ROUND(CAST(embedding[label + 1] AS DOUBLE)
                 - list_aggregate(CAST(embedding AS DOUBLE[]), 'median'), 6) AS delta_med
    FROM embeddings
    """,
    tags=("advanced", "W3"),
)
def delta_from_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score-at-assigned-label minus row median (reference W3 `delta.med`:
    R/compare_annotation.R:18-32, vectorized 2-col index-matrix lookup →
    element_at on the array, no transpose — SURVEY §4 design rule)."""
    e = load_table(spark, sf_dir, "embeddings")
    v = F.transform("embedding", lambda x: x.cast("double"))
    srt = F.array_sort(v)
    n = F.size(v)
    row_median = (
        F.element_at(srt, ((n + 1) / 2).cast("int")) + F.element_at(srt, (n / 2 + 1).cast("int"))
    ) / 2
    at_label = F.element_at(v, F.col("label") + 1)
    return e.select("vec_id", "label", F.round(at_label - row_median, 6).alias("delta_med"))


@register(
    "asof_join",
    oracle="""
    WITH ev AS (
      SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type FROM events
    ),
    win AS (
      SELECT user_id, event_id, ts, event_type,
             last_value(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_click_ts
      FROM ev
    )
    SELECT user_id, event_id, ts, event_type, prev_click_ts
    FROM win WHERE event_type = 'purchase'
    """,
    tags=("advanced", "asof-join", "temporal"),
)
def asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF join (operator Spark lacks natively — task brief): for every
    purchase event, the timestamp of the user's most recent STRICTLY PRIOR
    click. Implemented as last-non-null over an ordered per-key window
    ending at 1 PRECEDING — one shuffle on the key, no range-scan blowup.

    This window formulation is the scalable as-of pattern when both sides
    share a partition key; for unkeyed as-of, bucket by time range first."""
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev_click = F.last(F.when(F.col("event_type") == "click", F.col("ts")), ignorenulls=True).over(w)
    return (
        e.withColumn("prev_click_ts", prev_click)
        .filter(F.col("event_type") == "purchase")
        .select("user_id", "event_id", "ts", "event_type", "prev_click_ts")
    )


@register(
    "range_join_bands",
    oracle="""
    WITH bands(band, lo, hi) AS (VALUES ('low', 0.0, 10.0), ('mid', 10.0, 25.0), ('high', 25.0, 1e9))
    SELECT b.band, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(l.l_extendedprice), 2) AS price_sum
    FROM lineitem l JOIN bands b ON l.l_quantity > b.lo AND l.l_quantity <= b.hi
    GROUP BY b.band
    """,
    tags=("advanced", "range-join"),
)
def range_join_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (theta) join against a band dimension — the interval-lookup
    operator (task brief). The band table is tiny → broadcast nested-loop
    join, which Spark executes as a filtered broadcast: no shuffle of the
    fact side. For band tables too big to broadcast, bucket both sides by
    coarse range first (bucketed range join)."""
    li = load_table(spark, sf_dir, "lineitem")
    bands = spark.createDataFrame(
        [("low", 0.0, 10.0), ("mid", 10.0, 25.0), ("high", 25.0, 1e9)], ["band", "lo", "hi"]
    )
    return (
        li.join(
            F.broadcast(bands),
            (F.col("l_quantity") > F.col("lo")) & (F.col("l_quantity") <= F.col("hi")),
        )
        .groupBy("band")
        .agg(F.count("*").alias("n"), F.round(F.sum("l_extendedprice"), 2).alias("price_sum"))
    )


@register(
    "filter_scan_agg",
    oracle="""
    SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue_effect,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem
    WHERE l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
      AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
    """,
    tags=("advanced", "tpch", "bench"),
)
def filter_scan_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure filter-scan-aggregate. The benchmark for
    predicate pushdown — all four predicates reach the parquet reader
    (PushedFilters), projection prunes to 4 columns, no shuffle at all."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
            & (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue_effect"),
            F.count("*").alias("n"),
        )
    )


@register(
    "pairwise_ks",
    oracle="""
    WITH types AS (SELECT DISTINCT event_type AS t FROM events),
    pairs AS (SELECT a.t AS ta, b.t AS tb FROM types a JOIN types b ON a.t < b.t),
    tagged AS (
      SELECT p.ta, p.tb, e.value AS v,
             CASE WHEN e.event_type = p.ta THEN 1 ELSE 0 END AS a,
             CASE WHEN e.event_type = p.tb THEN 1 ELSE 0 END AS b
      FROM events e JOIN pairs p ON e.event_type IN (p.ta, p.tb)
    ),
    pervalue AS (
      SELECT ta, tb, v, SUM(a) AS ca, SUM(b) AS cb FROM tagged GROUP BY ta, tb, v
    ),
    ecdf AS (
      SELECT ta, tb,
             SUM(ca) OVER w / SUM(ca) OVER wp AS fa,
             SUM(cb) OVER w / SUM(cb) OVER wp AS fb,
             SUM(ca) OVER wp AS na, SUM(cb) OVER wp AS nb
      FROM pervalue
      WINDOW w AS (PARTITION BY ta, tb ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wp AS (PARTITION BY ta, tb)
    )
    SELECT ta, tb, ROUND(MAX(ABS(fa - fb)), 6) AS ks_stat,
           ROUND(LEAST(1.0, 2 * EXP(-2 * MAX(ABS(fa - fb)) * MAX(ABS(fa - fb))
                 * (ANY_VALUE(na) * ANY_VALUE(nb) / (ANY_VALUE(na) + ANY_VALUE(nb))))), 6)
             AS p_asymptotic
    FROM ecdf GROUP BY ta, tb
    """,
    tags=("advanced", "M16", "stats", "bench"),
)
def pairwise_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALL-pairs two-sample KS test — the reference's `pairwise_ks_test`
    implemented for real (M16: R/slingshot.R:113-121 is a stop('Yet to add
    code!') stub). Every group pair gets D = max|F_a − F_b| and the
    asymptotic p, all in one plan: pair table (tiny, broadcast) × events,
    ECDFs via per-pair cumulative windows. Scales as O(pairs × values)
    with per-pair parallelism — no driver loop over pairs."""
    # the `pairwise_ks_test` operator, two-sided (it deliberately has NO
    # spread_low_parallelism guard — a spread was tried in r15 and measured
    # net-negative, see stats.py). NOTE: the operator filters value IS NOT
    # NULL; the registered oracle counts NULLs in na/nb, so they agree
    # because events.value is null-free at every shipped SF — a
    # null-bearing regeneration must add the same filter to the oracle.
    e = load_table(spark, sf_dir, "events")
    return pairwise_ks_test(e, "value", "event_type").select(
        F.col("group_a").alias("ta"),
        F.col("group_b").alias("tb"),
        F.round("ks_stat", 6).alias("ks_stat"),
        F.round("p_asymptotic", 6).alias("p_asymptotic"),
    )


@register(
    "pairwise_ks_one_sided",
    # one-sided KS (scipy/R convention, group_a = first sample):
    # greater -> D+ = max(F_a - F_b), less -> D- = max(F_b - F_a),
    # p = exp(-2 D^2 n_a n_b / (n_a + n_b)); both directions emitted so the
    # driver gate exercises both codepaths of the operator's `alternative`
    oracle="""
    WITH types AS (SELECT DISTINCT event_type AS t FROM events),
    pairs AS (SELECT a.t AS ta, b.t AS tb FROM types a JOIN types b ON a.t < b.t),
    tagged AS (
      SELECT p.ta, p.tb, e.value AS v,
             CASE WHEN e.event_type = p.ta THEN 1 ELSE 0 END AS a,
             CASE WHEN e.event_type = p.tb THEN 1 ELSE 0 END AS b
      FROM events e JOIN pairs p ON e.event_type IN (p.ta, p.tb)
    ),
    pervalue AS (
      SELECT ta, tb, v, SUM(a) AS ca, SUM(b) AS cb FROM tagged GROUP BY ta, tb, v
    ),
    ecdf AS (
      SELECT ta, tb,
             SUM(ca) OVER w / SUM(ca) OVER wp AS fa,
             SUM(cb) OVER w / SUM(cb) OVER wp AS fb,
             SUM(ca) OVER wp AS na, SUM(cb) OVER wp AS nb
      FROM pervalue
      WINDOW w AS (PARTITION BY ta, tb ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wp AS (PARTITION BY ta, tb)
    ),
    d AS (
      SELECT ta, tb,
             GREATEST(MAX(fa - fb), 0) AS dg, GREATEST(MAX(fb - fa), 0) AS dl,
             ANY_VALUE(na) * ANY_VALUE(nb) / (ANY_VALUE(na) + ANY_VALUE(nb)) AS en
      FROM ecdf GROUP BY ta, tb
    )
    SELECT ta AS group_a, tb AS group_b, 'greater' AS alternative,
           ROUND(dg, 6) AS ks_stat, ROUND(EXP(-2 * dg * dg * en), 6) AS p_asymptotic
    FROM d
    UNION ALL
    SELECT ta, tb, 'less', ROUND(dl, 6), ROUND(EXP(-2 * dl * dl * en), 6) FROM d
    """,
    tags=("advanced", "M16", "stats"),
)
def pairwise_ks_one_sided(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided all-pairs KS tests — completes the reference's declared
    `pairwise_ks_test(alternative=...)` signature (M16: R/slingshot.R:113-121
    passes `alternative` through; it was the last reference-declared
    parameter still raising NotImplementedError). Emits both directions per
    group pair; same broadcast-pair + cumulative-window plan as the
    two-sided query, with the signed (un-|abs|'d) ECDF-diff max.

    Optimization (r15, guide §2.4 "remove shuffles outright"): D⁺ and D⁻
    are aggregates of the SAME per-pair ECDF-diff column, so the heavy
    shared stage (`operators.stats.pairwise_ecdf`: fanout join, per-(pair,
    value) agg, two window passes) runs ONCE and one groupBy emits both
    statistics; the two output rows per pair come from exploding a
    2-element array of the aggregated (tiny) table. Bit-identical to the
    old two-pass union: the per-side expressions (GREATEST(MAX(±diff), 0),
    exp(−2·d·d·en)) are unchanged float math over the identical ECDF rows
    — only the duplicated pipeline is gone (measured: two full window
    pipelines → one; ~2× on the sweep timing)."""
    e = load_table(spark, sf_dir, "events")
    ecdf = pairwise_ecdf(e, "value", "event_type")
    diff = F.col("fa") - F.col("fb")
    en = F.first("na") * F.first("nb") / (F.first("na") + F.first("nb"))
    agg = ecdf.groupBy("group_a", "group_b").agg(
        F.greatest(F.max(diff), F.lit(0.0)).alias("dg"),
        F.greatest(F.max(-diff), F.lit(0.0)).alias("dl"),
        en.alias("en"),
    )
    both = agg.select(
        "group_a",
        "group_b",
        "en",
        F.explode(
            F.array(
                F.struct(F.lit("greater").alias("alternative"), F.col("dg").alias("d")),
                F.struct(F.lit("less").alias("alternative"), F.col("dl").alias("d")),
            )
        ).alias("s"),
    )
    d = F.col("s.d")
    return both.select(
        "group_a",
        "group_b",
        F.col("s.alternative").alias("alternative"),
        F.round(d, 6).alias("ks_stat"),
        F.round(F.exp(-2 * d * d * F.col("en")), 6).alias("p_asymptotic"),
    )


@register(
    "simhash_signature",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_transform(list_distinct(regexp_split_to_array(trim(text), '\\s+')),
                            w -> CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) % 65536) AS hs
      FROM documents
    )
    SELECT doc_id,
           CAST(list_sum(list_transform(range(0, 16),
                b -> CASE WHEN list_sum(list_transform(hs,
                       h -> CASE WHEN (h // (1 << b)) % 2 = 1 THEN 1 ELSE -1 END)) > 0
                     THEN (1 << b) ELSE 0 END)) AS BIGINT) AS simhash
    FROM toks
    """,
    tags=("advanced", "text", "dedup", "simhash"),
)
def simhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash per document over distinct word tokens: each token's
    md5-derived 16-bit hash votes ±1 per bit position; the signature sets
    bits with positive vote sums. Near-dup docs differ in few bits
    (Hamming ball lookup). Pure integer array math, map-only, no UDF.

    The bit vote is `functions.simhash_bits`, the kernel the 48-bit
    `simhash_hamming_pairs` signature also runs."""
    d = load_table(spark, sf_dir, "documents")
    sig = bits_to_long(simhash_bits("text", 16))
    return d.select("doc_id", sig.alias("simhash"))


@register(
    "knee_detection",
    oracle="""
    WITH ranked AS (
      SELECT c_acctbal + 1000.0 AS total,
             row_number() OVER (ORDER BY c_acctbal DESC, c_custkey) AS rnk
      FROM customer WHERE c_acctbal > -1000
    ),
    curve AS (
      SELECT rnk, ROUND(LOG10(CAST(rnk AS DOUBLE)), 6) AS lx, ROUND(LOG10(total), 6) AS ly
      FROM ranked
    ),
    d2 AS (
      SELECT rnk, lx, ly,
             ROUND(lead(ly) OVER (ORDER BY rnk) - 2 * ly + lag(ly) OVER (ORDER BY rnk), 9) AS curv
      FROM curve
    )
    SELECT CAST(rnk AS BIGINT) AS knee_rank, ROUND(ly, 6) AS knee_log_total
    FROM d2 WHERE curv IS NOT NULL
    ORDER BY curv ASC, rnk ASC LIMIT 1
    """,
    tags=("advanced", "A12"),
)
def knee_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Knee/inflection detection on a rank-value curve (reference A12:
    R/wrapper.R:54-68 barcodeRanks knee on the log-log barcode curve):
    rank desc → log-log curve → discrete second derivative → argmin.
    A global-ordered window over an already-aggregated (per-rank) curve."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > -1000)
    w = Window.orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    ranked = c.select((F.col("c_acctbal") + 1000.0).alias("total"), F.row_number().over(w).alias("rnk"))
    curve = ranked.select(
        "rnk",
        F.round(F.log10(F.col("rnk").cast("double")), 6).alias("lx"),
        F.round(F.log10("total"), 6).alias("ly"),
    )
    wo = Window.orderBy("rnk")
    d2 = curve.select(
        "rnk",
        "ly",
        F.round(F.lead("ly").over(wo) - 2 * F.col("ly") + F.lag("ly").over(wo), 9).alias("curv"),
    )
    return (
        d2.filter(F.col("curv").isNotNull())
        .orderBy(F.asc("curv"), F.asc("rnk"))
        .limit(1)
        .select(F.col("rnk").cast("long").alias("knee_rank"), F.round("ly", 6).alias("knee_log_total"))
    )


@register(
    "module_score",
    oracle="""
    WITH scores AS (
      SELECT user_id,
             CAST(ROUND(SUM(CASE WHEN event_type = 'purchase' THEN value END * 100)) AS BIGINT)
               / 100.0 / COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS set_avg,
             CAST(ROUND(SUM(CASE WHEN event_type = 'view' THEN value END * 100)) AS BIGINT)
               / 100.0 / COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS ctrl_avg
      FROM events GROUP BY user_id
    )
    SELECT user_id, set_avg - ctrl_avg AS module_score,
           CASE WHEN set_avg - ctrl_avg > 0 THEN 'active' ELSE 'inactive' END AS phase
    FROM scores WHERE set_avg IS NOT NULL AND ctrl_avg IS NOT NULL
    """,
    tags=("advanced", "A24"),
)
def module_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Module scoring (reference A24: R/wrapper.R:254-257 CellCycleScoring —
    mean over a feature set minus mean over a control set per entity, then
    classify by sign/max). One conditional aggregation pass per entity."""
    e = load_table(spark, sf_dir, "events")
    # exact-integer-numerator avgs: per-user counts are small and often
    # powers of 2, putting naive averages of 2dp data on round-half
    # boundaries (see tumbling_window)
    pv = F.when(F.col("event_type") == "purchase", F.col("value"))
    cv = F.when(F.col("event_type") == "view", F.col("value"))
    scores = e.groupBy("user_id").agg(
        (F.round(F.sum(pv * 100)).cast("long") / 100.0 / F.count(pv)).alias("set_avg"),
        (F.round(F.sum(cv * 100)).cast("long") / 100.0 / F.count(cv)).alias("ctrl_avg"),
    )
    diff = F.col("set_avg") - F.col("ctrl_avg")
    return (
        scores.filter(F.col("set_avg").isNotNull() & F.col("ctrl_avg").isNotNull())
        .select(
            "user_id",
            diff.alias("module_score"),
            F.when(diff > 0, "active").otherwise("inactive").alias("phase"),
        )
    )


@register(
    "asof_join_forward_tolerance",
    oracle="""
    WITH ev AS (
      SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type FROM events
    ),
    win AS (
      SELECT user_id, event_id, ts, event_type,
             first_value(CASE WHEN event_type = 'purchase' THEN ts END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nxt
      FROM ev
    )
    SELECT user_id, event_id, ts,
           CASE WHEN nxt <= ts + INTERVAL 1 HOUR THEN nxt END AS next_purchase_ts
    FROM win WHERE event_type = 'click'
    """,
    tags=("advanced", "asof-join", "temporal", "tolerance"),
)
def asof_join_forward_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join with tolerance (the other half of the as-of
    surface — pandas merge_asof direction='forward'): for every click,
    the user's next purchase STRICTLY AFTER it, nulled when it falls
    outside a 1-hour tolerance (attribution-window semantics). Same
    single-shuffle ordered-window pattern as the backward `asof_join`;
    the tolerance is a post-filter, not a range join."""
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    nxt = F.first(
        F.when(F.col("event_type") == "purchase", F.col("ts")), ignorenulls=True
    ).over(w)
    return (
        e.withColumn("nxt", nxt)
        .filter(F.col("event_type") == "click")
        .select(
            "user_id",
            "event_id",
            "ts",
            F.when(
                F.col("nxt") <= F.col("ts") + F.expr("INTERVAL 1 HOUR"), F.col("nxt")
            ).alias("next_purchase_ts"),
        )
    )


@register(
    "pairwise_cvm",
    # Two-sample Cramér-von Mises statistic (Anderson 1962) for every
    # event-type pair, in the ties-safe EDF-integral form
    # T = nm/(n+m)^2 * sum over pooled points of (F_a - F_b)^2 (each
    # distinct value weighted by its pooled multiplicity) — the
    # WHOLE-DISTRIBUTION companion to `pairwise_ks`: KS sees only the
    # single largest ECDF gap, CvM integrates every gap, so it detects
    # spread/shape differences a one-point statistic misses. Same
    # one-plan scaffold as pairwise_ks: broadcast pair table, per-pair
    # distinct-value rollup, cumulative ECDF windows.
    oracle="""
    WITH types AS (SELECT DISTINCT event_type AS t FROM events),
    pairs AS (SELECT a.t AS ta, b.t AS tb FROM types a JOIN types b ON a.t < b.t),
    tagged AS (
      SELECT p.ta, p.tb, e.value AS v,
             CASE WHEN e.event_type = p.ta THEN 1 ELSE 0 END AS a,
             CASE WHEN e.event_type = p.tb THEN 1 ELSE 0 END AS b
      FROM events e JOIN pairs p ON e.event_type IN (p.ta, p.tb)
      WHERE e.value IS NOT NULL
    ),
    pervalue AS (
      SELECT ta, tb, v, SUM(a) AS ca, SUM(b) AS cb FROM tagged GROUP BY ta, tb, v
    ),
    ecdf AS (
      SELECT ta, tb, ca + cb AS w,
             SUM(ca) OVER win / SUM(ca) OVER wp AS fa,
             SUM(cb) OVER win / SUM(cb) OVER wp AS fb,
             SUM(ca) OVER wp AS na, SUM(cb) OVER wp AS nb
      FROM pervalue
      WINDOW win AS (PARTITION BY ta, tb ORDER BY v
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wp AS (PARTITION BY ta, tb)
    )
    SELECT ta, tb,
           CAST(ANY_VALUE(na) AS BIGINT) AS n_a, CAST(ANY_VALUE(nb) AS BIGINT) AS n_b,
           ROUND(ANY_VALUE(na) * ANY_VALUE(nb)
                 / ((ANY_VALUE(na) + ANY_VALUE(nb)) * (ANY_VALUE(na) + ANY_VALUE(nb)))
                 * SUM(w * (fa - fb) * (fa - fb)), 6) AS cvm_stat
    FROM ecdf GROUP BY ta, tb
    """,
    tags=("advanced", "stats", "hypothesis-test", "edf"),
)
def pairwise_cvm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALL-pairs two-sample Cramér-von Mises statistic — the
    integrated-squared-ECDF-gap companion to `pairwise_ks`: where KS
    reports only the supremum gap (and so is blind to distributions
    that differ modestly EVERYWHERE), CvM sums (F_a - F_b)^2 over the
    whole pooled sample, weighting each distinct value by its pooled
    multiplicity — the ties-safe EDF-integral form of Anderson (1962).
    The statistic is reported without an asymptotic p (its limiting
    distribution is non-elementary); users rank pairs by T directly.

    Scale shape: identical to pairwise_ks — tiny pair table broadcast
    against the corpus, one (pair, value) rollup (the only
    corpus-volume shuffle), per-pair cumulative windows over distinct
    values, one bounded aggregate. O(pairs x distinct values) with
    per-pair parallelism; no driver loop."""
    e = load_table(spark, sf_dir, "events")
    ecdf = pairwise_ecdf(e, "value", "event_type")
    na, nb = F.first("na"), F.first("nb")
    gap = F.col("fa") - F.col("fb")
    return ecdf.groupBy(F.col("group_a").alias("ta"), F.col("group_b").alias("tb")).agg(
        na.cast("long").alias("n_a"),
        nb.cast("long").alias("n_b"),
        F.round(
            na * nb / ((na + nb) * (na + nb)) * F.sum((F.col("ca") + F.col("cb")) * gap * gap), 6
        ).alias("cvm_stat"),
    )


@register(
    "ambient_pool_significance",
    oracle="""
    WITH counts AS (
      SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS y
      FROM events GROUP BY user_id, event_type
    ),
    totals AS (
      SELECT user_id, CAST(SUM(y) AS BIGINT) AS total FROM counts GROUP BY user_id
    ),
    genes AS (SELECT DISTINCT event_type FROM events),
    pool AS (
      SELECT c.event_type, CAST(SUM(c.y) AS BIGINT) AS pooled
      FROM counts c JOIN totals t USING (user_id)
      WHERE t.total <= 60
      GROUP BY c.event_type
    ),
    prof0 AS (
      SELECT g.event_type, CAST(COALESCE(p.pooled, 0) + 1 AS BIGINT) AS n1
      FROM genes g LEFT JOIN pool p USING (event_type)
    ),
    prof AS (
      SELECT event_type, n1 / (SELECT CAST(SUM(n1) AS BIGINT) FROM prof0) AS p
      FROM prof0
    ),
    prof2 AS (
      SELECT event_type, p, CAST(ROUND(LN(p) * 1000000) AS BIGINT) AS lp FROM prof
    ),
    cum AS (
      SELECT event_type, lp,
             SUM(p) OVER w - p AS lo,
             CASE WHEN row_number() OVER (ORDER BY event_type DESC) = 1 THEN 1.0
                  ELSE SUM(p) OVER w END AS hi
      FROM prof2
      WINDOW w AS (ORDER BY event_type ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    -- 512 is a CONSTANT grid cap (DuckDB range() cannot take a subquery):
    -- per-user totals are <=99 at every shipped SF; an undershoot drops the
    -- inner join on j = total and fails parity LOUDLY (missing rows)
    draws AS (
      SELECT r.range AS r, j.range AS j,
             (CAST(('0x' || substr(md5(CAST(r.range AS VARCHAR) || ':' ||
                    CAST(j.range AS VARCHAR) || ':290'), 1, 15)) AS BIGINT) + 1)
               / 1152921504606846976.0 AS u
      FROM range(1, 201) r, range(1, 513) j
    ),
    assigned AS (
      SELECT d.r, d.j, c.lp, c.event_type
      FROM draws d JOIN cum c ON d.u > c.lo AND d.u <= c.hi
    ),
    terms AS (
      SELECT r, j,
             lp - CAST(ROUND(LN(CAST(row_number() OVER
                   (PARTITION BY r, event_type ORDER BY j) AS DOUBLE)) * 1000000)
                  AS BIGINT) AS term
      FROM assigned
    ),
    grid AS (
      SELECT r, j,
             CAST(SUM(term) OVER (PARTITION BY r ORDER BY j
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS lsim
      FROM terms
    ),
    obs AS (
      SELECT c.user_id, t.total,
             CAST(SUM(c.y * p2.lp
               - CAST(COALESCE(list_sum(list_transform(range(1, c.y + 1),
                     i -> CAST(ROUND(LN(CAST(i AS DOUBLE)) * 1000000) AS BIGINT))), 0)
                 AS BIGINT)) AS BIGINT) AS obs_micro
      FROM counts c
      JOIN totals t USING (user_id)
      JOIN prof2 p2 USING (event_type)
      WHERE t.total > 60
      GROUP BY c.user_id, t.total
    ),
    pv AS (
      SELECT o.user_id, o.total, o.obs_micro,
             CAST(COUNT(*) FILTER (WHERE g.lsim <= o.obs_micro) AS BIGINT) AS nbelow
      FROM obs o JOIN grid g ON g.j = o.total
      GROUP BY o.user_id, o.total, o.obs_micro
    ),
    scored AS (
      SELECT user_id, total, obs_micro,
             (nbelow + 1) / 201.0 AS pvalue,
             (nbelow = 0) AS limited
      FROM pv
    ),
    ranked AS (
      SELECT *,
             row_number() OVER (ORDER BY pvalue, user_id) AS rk,
             CAST(COUNT(*) OVER () AS BIGINT) AS n
      FROM scored
    ),
    adj AS (
      SELECT *,
             LEAST(1.0, MIN(pvalue * n / rk) OVER (ORDER BY pvalue DESC, user_id DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS padj
      FROM ranked
    )
    SELECT user_id, total,
           ROUND(obs_micro / 1000000.0, 6) AS obs_ll,
           ROUND(pvalue, 6) AS pvalue,
           ROUND(padj, 6) AS p_adjusted,
           limited,
           (padj <= 0.05) AS is_cell
    FROM adj
    """,
    tags=("advanced", "M22", "qc", "stats"),
)
def ambient_pool_significance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """emptyDrops-style ambient-pool Monte-Carlo test (reference M22:
    R/wrapper.R:70-76; Lun et al. 2019): users with ≤60 events form the
    ambient pool; every heavier user gets a multinomial goodness-of-fit
    statistic against the pooled event-type profile and a seeded
    Monte-Carlo p-value (200 simulations shared across users by total,
    md5-uniform draws), then BH over W4 and an `is_cell` call at FDR 5%.

    The whole null sample is replayed by the oracle bit-identically: all
    likelihood terms live on a 1e-6 integer grid (exact long sums) and
    the simulated draws come from the md5 inverse-CDF (see
    operators/qc.py ambient_pvalues)."""
    from utils_spark.operators.qc import ambient_pvalues

    e = load_table(spark, sf_dir, "events")
    res = ambient_pvalues(
        e, "user_id", "event_type", lower=60, n_sims=200, seed=290, fdr=0.05
    )
    return res.select(
        "user_id",
        "total",
        F.round(F.col("obs_micro") / 1000000.0, 6).alias("obs_ll"),
        F.round("pvalue", 6).alias("pvalue"),
        F.round("p_adjusted", 6).alias("p_adjusted"),
        "limited",
        "is_cell",
    )
