"""Column kernels of ``utils_spark.functions`` checked against the Spark
built-ins they replace."""

from __future__ import annotations

import math
import struct

import pytest
from pyspark.sql import functions as F

from utils_spark.functions import average_rank, exact_percentile

PS = (0.0, 0.5, 0.99, 1.0)
NAN = float("nan")
GROUPS = {
    "all_null": [None, None, None],
    "one_row": [3.5],
    "ties": [1.0, 1.0, 1.0, 2.0, 2.0, 3.0, 3.0, 3.0, 3.0, None],
    "duplicate_heavy": [5.0] * 40 + [7.0] * 3 + [-2.0] * 9,
    "signed_zeros": [-0.0, 0.0, -0.0, 0.0, 1.0, -1.0, 0.0],
    "zero_pair": [0.0, -0.0],
    "zeros_positive_first": [0.0] * 3 + [-0.0] * 3,
    "zeros_negative_first": [-0.0] * 3 + [0.0] * 3,
    "zeros_interleaved": [(0.0, -0.0, 0.0, 2.0, -0.0, -1.0)[i * 7 % 6] for i in range(41)],
    "near_distinct": [round(math.sin(i) * 1000.0, 2) for i in range(257)],
}
NAN_GROUPS = {"nan": [1.0, NAN, 2.0, NAN, -3.0], "all_nan": [NAN, NAN]}


def _frame(spark, groups, cast):
    rows = [(g, x) for g, xs in groups.items() for x in xs]
    df = spark.createDataFrame(rows, "g string, x double").repartition(3)
    return df.select("g", F.col("x").cast(cast).alias("x"))


def _bits(v):
    """Bit pattern of a double (any NaN as one token); lists elementwise."""
    if v is None:
        return None
    if isinstance(v, list):
        return [_bits(x) for x in v]
    return "nan" if math.isnan(v) else struct.pack("<d", v)


def _kernel_vs_percentile(df):
    aggs, names = [], []
    for i, p in enumerate(PS):
        aggs += [exact_percentile("x", p).alias(f"k{i}"), F.expr(f"percentile(x, {p})").alias(f"s{i}")]
        names.append((f"k{i}", f"s{i}"))
    plist = ", ".join(str(p) for p in PS)
    aggs += [exact_percentile(F.col("x"), PS).alias("ka"), F.expr(f"percentile(x, array({plist}))").alias("sa")]
    names.append(("ka", "sa"))
    return {r["g"]: r for r in df.groupBy("g").agg(*aggs).collect()}, names


@pytest.mark.parametrize("cast", ["double", "int", "bigint", "decimal(12,2)"])
def test_exact_percentile_matches_percentile_bit_for_bit(spark, cast):
    groups = dict(GROUPS, **NAN_GROUPS) if cast == "double" else GROUPS
    rows, names = _kernel_vs_percentile(_frame(spark, groups, cast))
    assert set(rows) == set(groups)
    for g, r in rows.items():
        for k, s in names:
            assert _bits(r[k]) == _bits(r[s]), (cast, g, k, r[k], r[s])
    # an all-NULL group is NULL in both forms, not an array of NULLs
    assert rows["all_null"]["k1"] is None and rows["all_null"]["ka"] is None


def test_exact_percentile_signed_zero_and_nan_order(spark):
    rows, _ = _kernel_vs_percentile(_frame(spark, dict(GROUPS, **NAN_GROUPS), "double"))
    # -0.0 sorts before 0.0 and NaN sorts last, as percentile reads them
    assert _bits(rows["zero_pair"]["ka"]) == _bits([-0.0, -0.0, -0.0, 0.0])
    assert _bits(rows["nan"]["ka"]) == _bits([-3.0, 2.0, NAN, NAN])


def test_exact_percentile_empty_input_is_null(spark):
    df = spark.createDataFrame([], "x double")
    r = df.agg(exact_percentile("x", 0.5).alias("s"), exact_percentile("x", [0.5]).alias("a")).first()
    assert r["s"] is None and r["a"] is None


@pytest.mark.parametrize("p", [1.5, -0.1, (0.5, 1.5)])
def test_exact_percentile_rejects_p_outside_unit_interval(p):
    with pytest.raises(ValueError):
        exact_percentile("x", p)


def test_average_rank_averages_ties_within_partition(spark):
    groups = {"g": [2.0, 3.0, 1.0, 2.0], "h": [5.0, 5.0, 5.0]}
    rows = [(g, x) for g, xs in groups.items() for x in xs]
    df = spark.createDataFrame(rows, "g string, x double").repartition(2)
    out = df.select("g", "x", average_rank(["g"], "x").alias("r")).collect()
    ranks = {g: sorted((r["x"], r["r"]) for r in out if r["g"] == g) for g in groups}
    assert [r for _, r in ranks["g"]] == [1.0, 2.5, 2.5, 4.0]
    assert [r for _, r in ranks["h"]] == [2.0, 2.0, 2.0]
