"""QC metric bundles over long-format data (reference E2 pipeline,
SURVEY §3: do_basicQC → get_outliers → filter_features).

The reference operates on genes×cells matrices; our long format is
(entity_id, feature_id, value) rows. All bundles are single-pass hash
aggregations with conditional expressions — partial aggregation map-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from utils_spark.functions import log2_cpm


def per_entity_qc(
    df: DataFrame,
    entity_col: str,
    value_col: str,
    subset_patterns: dict[str, str] | None = None,
    feature_col: str | None = None,
) -> DataFrame:
    """Per-entity QC metrics (reference A8: R/wrapper.R:78-117
    perCellQCMetrics): `total` (sum), `detected` (count of value>0), and
    `subsets_<name>_percent` — % of total in features matching a regex
    (mito `^MT-`, ribo `^RP[SL]` in the reference, R/wrapper.R:100-107).

    ONE aggregation pass computes every metric (no per-subset re-scan).
    """
    aggs = [
        F.sum(value_col).alias("total"),
        F.count(F.when(F.col(value_col) > 0, 1)).alias("detected"),
    ]
    for name, pattern in (subset_patterns or {}).items():
        if feature_col is None:
            raise ValueError("feature_col required when subset_patterns given")
        aggs.append(
            (
                100.0
                * F.coalesce(
                    F.sum(F.when(F.col(feature_col).rlike(pattern), F.col(value_col))), F.lit(0.0)
                )
                / F.sum(value_col)
            ).alias(f"subsets_{name}_percent")
        )
    return df.groupBy(entity_col).agg(*aggs)


def module_score(
    df: DataFrame,
    entity_col: str,
    feature_col: str,
    value_col: str,
    feature_set: list[str],
    control_set: list[str],
) -> DataFrame:
    """Module score per entity: mean(value | feature in set) − mean(value |
    feature in control set) (reference A24: R/wrapper.R:254-257
    CellCycleScoring shape). Single conditional-aggregation pass."""
    if not feature_set or not control_set:
        raise ValueError("feature_set and control_set must be non-empty")
    return df.groupBy(entity_col).agg(
        (
            F.avg(F.when(F.col(feature_col).isin(feature_set), F.col(value_col)))
            - F.avg(F.when(F.col(feature_col).isin(control_set), F.col(value_col)))
        ).alias("module_score"),
        F.count(F.when(F.col(feature_col).isin(feature_set), 1)).alias("n_set"),
        F.count(F.when(F.col(feature_col).isin(control_set), 1)).alias("n_control"),
    )


def log_normalize(
    df: DataFrame, entity_col: str, value_col: str, out_col: str = "log_norm"
) -> DataFrame:
    """Library-size log-normalization (reference R/reference.R:161
    logNormCounts): log2(value / size_factor + 1) where size_factor =
    entity total scaled to mean 1. Two aggregate passes, map-side expr."""
    totals = df.groupBy(entity_col).agg(F.sum(value_col).alias("__total"))
    mean_total = totals.agg(F.avg("__total").alias("__mean_total"))
    return (
        df.join(totals, entity_col)
        .crossJoin(F.broadcast(mean_total))
        .withColumn(out_col, log2_cpm(F.col(value_col), F.col("__total") / F.col("__mean_total")))
        .drop("__total", "__mean_total")
    )


_MICRO = 1_000_000  # fixed-point grid for cross-engine-exact log-likelihoods

# bucket count for the inverse-CDF equi-join in ambient_pvalues: the
# exploded bucket table is ~(_CDF_BUCKETS + G) rows — 4096 keeps it a
# trivially broadcastable few-KB table while making the expected number of
# candidate intervals per draw ≈ 1 + G/_CDF_BUCKETS
_CDF_BUCKETS = 4096


def _ln_micro(x) -> "F.Column":
    """round(ln(x)·1e6) as a long — every log-likelihood term lives on this
    integer grid so sums are EXACT (order-independent, engine-independent);
    only the per-term rounding touches floats."""
    return F.round(F.log(x.cast("double")) * _MICRO).cast("long")


def ambient_pvalues(
    df: DataFrame,
    barcode_col: str,
    gene_col: str,
    lower: int = 100,
    n_sims: int = 200,
    seed: int = 290,
    fdr: float = 0.05,
) -> DataFrame:
    """emptyDrops-style ambient-pool Monte-Carlo significance test
    (reference M22: R/wrapper.R:70-76 consumes `DropletUtils::emptyDrops`
    output — ambient `lower`, PValue, seeded simulation; method: Lun et
    al. 2019, Genome Biology 20:63). Input is LONG format: one row per
    observation (barcode, gene); counts are row tallies.

    Semantics (the emptyDrops core, as a declared analog — add-one
    smoothing stands in for Good-Turing, and the knee-based `retain`
    auto-call is out of scope; the knee itself is A12 `knee_detection`):

    1. ambient profile: pool counts of barcodes with total ≤ `lower`,
       add-one smoothing over the observed gene universe → p_g;
    2. per tested barcode (total > `lower`) the multinomial goodness-of-
       fit statistic  L_b = Σ_g y_bg·ln(p_g) − Σ_g ln(y_bg!)  (the
       total-count term ln(T!) is constant within a total and cancels
       from the Monte-Carlo comparison, so both sides omit it);
    3. Monte-Carlo null, shared across barcodes by total (emptyDrops'
       own trick, expressed relationally instead of iteratively): each
       simulation r is ONE sequence of iid ambient draws j=1..max(T);
       the null statistic for total T is the cumulative statistic of the
       first T draws, so R simulations cost R·max(T) rows TOTAL — not
       R·Σ T — and the grid is independent of barcode count;
    4. p_b = (1 + #{L_sim(r,T_b) ≤ L_b}) / (1 + R), `limited` = no
       simulation fell below (emptyDrops' Limited flag: the p-value is
       at its floor and could only drop with more simulations);
    5. BH over all tested barcodes (W4 `bh_adjust`); `is_cell` =
       p_adjusted ≤ `fdr`.

    Cross-engine exactness: every statistic term is rounded to a 1e-6
    integer grid BEFORE summing (see `_ln_micro`), so the sums an oracle
    must reproduce are exact longs — no float-summation-order hazard.
    The simulation draws derive from the md5 uniform ("r:j:seed" →
    60-bit int, SURVEY §7.2 determinism rule) and an inverse-CDF range
    join against the ambient profile's cumulative bounds, so any engine
    replays the identical null sample.

    Scale: the simulation grid is R·max(T) rows whatever the corpus
    size; barcode-side work is two keyed linear shuffles (counts,
    per-barcode stat) plus broadcast joins (G-row profile, max(T)-row
    sim arrays). The final BH ranks all tested barcodes in one window
    partition — the same global-rank cost every BH carries (W4); shard
    `family_cols` upstream if barcodes are federated.

    Returns (barcode, total, obs_micro, pvalue, p_adjusted, limited,
    is_cell); `obs_micro` is the statistic in 1e-6 units (long) — divide
    by 1e6 for nats.
    """
    spark = df.sparkSession
    bc, gc = F.col(barcode_col), F.col(gene_col)
    # counts/totals feed three branches each (profile, observed stat, sim
    # sizing); cached so the raw input is scanned once, not per branch —
    # counts is already the compacted (barcode, gene) aggregate, orders of
    # magnitude smaller than the observation-level input it summarizes
    from utils_spark.plans import scratch_persist

    counts = scratch_persist(
        df.groupBy(bc.alias("__bc"), gc.alias("__gene")).agg(F.count("*").alias("__y"))
    )
    totals = scratch_persist(counts.groupBy("__bc").agg(F.sum("__y").alias("total")))

    # ambient profile over the full observed gene universe, +1 smoothing
    # (universe from the cached aggregate — no second raw-input scan)
    genes = counts.select("__gene").distinct()
    pool = (
        counts.join(totals.filter(F.col("total") <= lower), "__bc")
        .groupBy("__gene")
        .agg(F.sum("__y").alias("__pooled"))
    )
    prof0 = genes.join(pool, "__gene", "left").select(
        "__gene", (F.coalesce(F.col("__pooled"), F.lit(0)) + 1).alias("__n1")
    )
    denom = prof0.agg(F.sum("__n1").alias("__denom"))  # 1 row
    prof = (
        prof0.crossJoin(F.broadcast(denom))
        .withColumn("__p", F.col("__n1") / F.col("__denom"))
        .withColumn("__lp", _ln_micro(F.col("__p")))
    )
    # inverse-CDF bounds (G rows; single-partition window is fine)
    wg = Window.orderBy("__gene").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = prof.select(
        "__gene",
        "__lp",
        (F.sum("__p").over(wg) - F.col("__p")).alias("__lo"),
        F.when(F.row_number().over(Window.orderBy(F.desc("__gene"))) == 1, F.lit(1.0))
        .otherwise(F.sum("__p").over(wg))
        .alias("__hi"),
    )

    # observed statistic per tested barcode (total > lower)
    tested = totals.filter(F.col("total") > lower)
    lfact_y = F.aggregate(
        F.sequence(F.lit(1).cast("long"), F.col("__y")),
        F.lit(0).cast("long"),
        lambda acc, i: acc + _ln_micro(i),
    )
    obs = (
        counts.join(tested, "__bc")
        .join(F.broadcast(prof.select("__gene", "__lp")), "__gene")
        .groupBy("__bc", "total")
        .agg(F.sum(F.col("__y") * F.col("__lp") - lfact_y).alias("__obs"))
    )

    # shared null: R sequences of iid ambient draws, cumulative stat per prefix
    tmax = tested.agg(F.max("total").alias("__tmax"))  # 1 row
    draws = (
        spark.range(1, n_sims + 1)
        .select(F.col("id").alias("__r"))
        .crossJoin(F.broadcast(tmax))
        .select(
            "__r", F.explode(F.sequence(F.lit(1).cast("long"), F.col("__tmax"))).alias("__j")
        )
    )
    from utils_spark.functions import md5_long

    u = (
        md5_long(
            F.concat_ws(
                ":", F.col("__r").cast("string"), F.col("__j").cast("string"), F.lit(str(seed))
            )
        )
        + 1
    ) / F.lit(float(1 << 60))
    # inverse-CDF lookup as a quantized-bucket EQUI-join (optimization r16,
    # guide §3; VERDICT r15 item 5): the raw (lo, hi] range condition plans
    # as BroadcastNestedLoopJoin — every draw evaluated against every gene
    # interval, O(draws × G) predicate work. Exploding each interval into
    # the _CDF_BUCKETS-grid buckets it overlaps (Σ ≈ _CDF_BUCKETS + G rows,
    # still broadcastable) keys the join on floor(u·B): a hash probe per
    # draw, with the ORIGINAL exact range predicate kept as the residual
    # filter — bucket coverage is exact by floor-monotonicity (lo < u ≤ hi
    # ⇒ floor(lo·B) ≤ floor(u·B) ≤ floor(hi·B)), so the match set is
    # bit-identical and float rounding in the bucket ids cannot change it.
    cumb = cum.withColumn(
        "__bkt",
        F.explode(
            F.sequence(
                F.floor(F.col("__lo") * _CDF_BUCKETS).cast("long"),
                F.floor(F.col("__hi") * _CDF_BUCKETS).cast("long"),
            )
        ),
    )
    assigned = (
        draws.withColumn("__u", u)
        .withColumn("__bkt", F.floor(F.col("__u") * _CDF_BUCKETS).cast("long"))
        .join(
            F.broadcast(cumb),
            ["__bkt"],
        )
        .filter((F.col("__u") > F.col("__lo")) & (F.col("__u") <= F.col("__hi")))
        .select("__r", "__j", "__gene", "__lp")
    )
    wocc = Window.partitionBy("__r", "__gene").orderBy("__j")
    wcum = (
        Window.partitionBy("__r")
        .orderBy("__j")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    grid = assigned.withColumn(
        "__term", F.col("__lp") - _ln_micro(F.row_number().over(wocc))
    ).select("__r", "__j", F.sum("__term").over(wcum).alias("__lsim"))
    sims = grid.groupBy("__j").agg(F.collect_list("__lsim").alias("__sims"))

    scored = (
        obs.join(F.broadcast(sims), obs["total"] == sims["__j"])
        .withColumn("__nbelow", F.size(F.filter("__sims", lambda s: s <= F.col("__obs"))))
        .select(
            F.col("__bc").alias(barcode_col),
            "total",
            F.col("__obs").alias("obs_micro"),
            ((F.col("__nbelow") + 1) / F.lit(float(n_sims + 1))).alias("pvalue"),
            (F.col("__nbelow") == 0).alias("limited"),
        )
    )
    from utils_spark.operators.stats import bh_adjust

    adj = bh_adjust(scored, "pvalue", out_col="p_adjusted", tiebreak_col=barcode_col)
    return adj.withColumn("is_cell", F.col("p_adjusted") <= F.lit(float(fdr)))
