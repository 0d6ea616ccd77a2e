"""Relational core: projections, filters, joins, set ops, reshape.

Covers SURVEY.md §2.2 (P1-P25), §2.3 (J1-J8), §2.6 (O1-O10) over the driver
star schema. Every query is a pure DataFrame composition — Catalyst handles
predicate pushdown, column pruning, and join-strategy selection; dimension
joins are explicitly broadcast (they are tiny at any SF).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from utils_spark.functions import make_unique, pair_key
from utils_spark.io import load_table
from utils_spark.operators import relational
from utils_spark.registry import register


@register(
    "filter_project",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
           ROUND(l_extendedprice * (1 - l_discount), 4) AS net_price
    FROM lineitem
    WHERE l_quantity > 0 AND l_quantity <= 25
      AND l_returnflag <> 'A'
      AND l_shipdate >= TIMESTAMP '1996-01-01'
    """,
    tags=("relational", "P1", "P5", "P6", "P7"),
)
def filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection + range/anti-membership predicates (reference P1/P5-P7:
    R/utils.R:28, R/reference.R:44-46, R/wrapper.R:72, R/reference.R:283-285).

    Scale: predicates and the 5-column projection push into the parquet scan
    (PushedFilters + ReadSchema) — no shuffle at all."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_quantity") > 0)
            & (F.col("l_quantity") <= 25)
            & (F.col("l_returnflag") != "A")
            & (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_quantity",
            "l_extendedprice",
            F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("net_price"),
        )
    )


@register(
    "conditional_expr",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_orderstatus = 'F' THEN 'finished'
                WHEN o_totalprice > 200000 THEN 'big-open'
                ELSE 'open' END AS order_class,
           CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END AS is_priority
    FROM orders
    """,
    tags=("relational", "P12"),
)
def conditional_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional expressions (reference P12: R/compare_annotation.R:96
    `ifelse(singler==transfer, singler, "Ambiguous")`). Narrow map-only plan."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.when(F.col("o_orderstatus") == "F", "finished")
        .when(F.col("o_totalprice") > 200000, "big-open")
        .otherwise("open")
        .alias("order_class"),
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1).otherwise(0).alias("is_priority"),
    )


@register(
    "string_ops",
    oracle="""
    SELECT p_partkey,
           regexp_replace(p_name, '^[a-z]+ ', '') AS name_tail,
           CASE WHEN regexp_matches(p_type, '^PROMO') THEN 1 ELSE 0 END AS is_promo,
           concat(p_brand, '_', CAST(p_size AS VARCHAR)) AS brand_size,
           lower(p_type) AS type_lower,
           split_part(p_type, ' ', 1) AS type_head
    FROM part
    """,
    tags=("relational", "P15", "P16", "P17"),
)
def string_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex extract/strip/match + concat/paste surface (reference P15-P17:
    R/reference.R:237 gsub prefix-strip, R/wrapper.R:100-101 `^MT-` match,
    R/wrapper.R:321 paste0 naming). All JVM string kernels, map-only."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.regexp_replace("p_name", r"^[a-z]+ ", "").alias("name_tail"),
        F.when(F.col("p_type").rlike("^PROMO"), 1).otherwise(0).alias("is_promo"),
        F.concat_ws("_", F.col("p_brand"), F.col("p_size").cast("string")).alias("brand_size"),
        F.lower("p_type").alias("type_lower"),
        F.split(F.col("p_type"), " ").getItem(0).alias("type_head"),
    )


@register(
    "pair_key_unite",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           concat(l_returnflag, '_', l_linestatus) AS united,
           CASE WHEN l_returnflag <= l_linestatus
                THEN concat(l_returnflag, '-', l_linestatus)
                ELSE concat(l_linestatus, '-', l_returnflag) END AS pair
    FROM lineitem
    """,
    tags=("relational", "P13", "P14"),
)
def pair_key_unite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column unite + order-insensitive pair key (reference P13/P14:
    R/reference.R:147-148 tidyr::unite; R/compare_annotation.R:93-95
    sorted-pair label)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.concat_ws("_", "l_returnflag", "l_linestatus").alias("united"),
        pair_key("l_returnflag", "l_linestatus").alias("pair"),
    )


@register(
    "make_unique_names",
    oracle="""
    SELECT p_partkey, p_name,
           CASE WHEN rn = 1 THEN p_name
                ELSE concat(p_name, '.', CAST(rn - 1 AS VARCHAR)) END AS uniq_name
    FROM (SELECT p_partkey, p_name,
                 row_number() OVER (PARTITION BY p_name ORDER BY p_partkey) AS rn
          FROM part)
    """,
    tags=("relational", "P22"),
)
def make_unique_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R ``make.unique`` duplicate-name suffixing (reference P22:
    R/wrapper.R:38-42, R/reference.R:126-127) with a deterministic
    key-ordered tiebreak (SURVEY §7.1). One shuffle on the name column."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        "p_name",
        make_unique("p_name", "p_partkey").alias("uniq_name"),
    )


@register(
    "lookup_join",
    oracle="""
    SELECT n.n_nationkey, n.n_name, r.r_name AS region_name
    FROM nation n LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
    """,
    tags=("joins", "J2", "P23"),
)
def lookup_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast lookup join — the named-vector map application of the
    reference (J2/P23: R/reference.R:81-84 donor→sex). The map side is
    broadcast: zero shuffle."""
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return n.join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey, "left"
    ).select("n_nationkey", "n_name", F.col("r_name").alias("region_name"))


@register(
    "left_join_agg",
    oracle="""
    SELECT c.c_custkey, c.c_name,
           COALESCE(o.n_orders, 0) AS n_orders,
           ROUND(COALESCE(o.total_spent, 0.0), 4) AS total_spent
    FROM customer c
    LEFT JOIN (SELECT o_custkey, COUNT(*) AS n_orders, SUM(o_totalprice) AS total_spent
               FROM orders GROUP BY o_custkey) o
      ON c.c_custkey = o.o_custkey
    """,
    tags=("joins", "J1"),
)
def left_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving all left rows (reference J1:
    R/funx_enrichment.R:227-231 merge all.x=TRUE).

    Scale: aggregate BEFORE the join (partial agg map-side) so the join input
    is one row per customer, not one per order."""
    c = load_table(spark, sf_dir, "customer")
    o = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n_orders"), F.sum("o_totalprice").alias("total_spent"))
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .select(
            "c_custkey",
            "c_name",
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
            F.round(F.coalesce("total_spent", F.lit(0.0)), 4).alias("total_spent"),
        )
    )


@register(
    "semi_anti_join",
    oracle="""
    SELECT 'with_lineitem' AS side, COUNT(*) AS n FROM part p
      WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey)
    UNION ALL
    SELECT 'no_orders' AS side, COUNT(*) AS n FROM customer c
      WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    tags=("joins", "J4", "J5"),
)
def semi_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join (universe membership, reference J4: R/funx_enrichment.R:50-54)
    and anti-join (dropout detection, reference J5: R/slingshot.R:33-38
    singleton-cluster drop). Spark plans these as LeftSemi/LeftAnti hash joins
    — no row duplication, key-only shuffle."""
    p = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey")
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").select("o_custkey")
    semi = (
        p.join(li, p.p_partkey == li.l_partkey, "left_semi")
        .agg(F.count("*").alias("n"))
        .select(F.lit("with_lineitem").alias("side"), "n")
    )
    anti = (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .agg(F.count("*").alias("n"))
        .select(F.lit("no_orders").alias("side"), "n")
    )
    return semi.unionByName(anti)


@register(
    "multiway_join_revenue",
    oracle="""
    SELECT n.n_name AS nation, r.r_name AS region,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY n.n_name, r.r_name
    """,
    tags=("joins", "bench", "tpch"),
)
def multiway_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join: fact × fact, then broadcast dims (TPC-H Q5 shape).

    Scale: lineitem⋈orders is the only big shuffle (sort-merge on orderkey,
    AQE-skew-safe); customer/nation/region broadcast. Date filter pushes into
    the orders scan before the join."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"), F.col("r_name").alias("region"))
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


@register(
    "union_distinct",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    UNION
    SELECT s_nationkey AS nationkey FROM supplier
    """,
    tags=("setops", "O2"),
)
def union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set union (reference O2: R/wrapper.R:366 `unique(unlist(...))`)."""
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.union(s).distinct()


@register(
    "set_difference",
    oracle="""
    SELECT DISTINCT c_nationkey AS nationkey FROM customer
    EXCEPT
    SELECT DISTINCT s_nationkey AS nationkey FROM supplier
    """,
    tags=("setops", "O3"),
)
def set_difference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set difference (reference O3: R/reference.R:52 setdiff)."""
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey")).distinct()
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey")).distinct()
    return c.subtract(s)


@register(
    "melt_unpivot",
    oracle="""
    SELECT c_custkey, metric, ROUND(val, 4) AS val FROM (
      SELECT c_custkey, 'acctbal' AS metric, c_acctbal AS val FROM customer
      UNION ALL
      SELECT c_custkey, 'nationkey' AS metric, CAST(c_nationkey AS DOUBLE) AS val FROM customer
    )
    """,
    tags=("reshape", "O5"),
)
def melt_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long melt (reference O5: R/wrapper.R:126-127 pivot_longer).
    Uses Spark's native unpivot — a zero-shuffle generate node."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_acctbal").alias("acctbal"), F.col("c_nationkey").cast("double").alias("nationkey")
    )
    return c.unpivot("c_custkey", ["acctbal", "nationkey"], "metric", "val").select(
        "c_custkey", "metric", F.round("val", 4).alias("val")
    )


@register(
    "pivot_onehot",
    oracle="""
    SELECT n_name,
           CAST(COALESCE(SUM(CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 1 END), 0) AS BIGINT) AS AUTOMOBILE,
           CAST(COALESCE(SUM(CASE WHEN c_mktsegment = 'BUILDING' THEN 1 END), 0) AS BIGINT) AS BUILDING,
           CAST(COALESCE(SUM(CASE WHEN c_mktsegment = 'FURNITURE' THEN 1 END), 0) AS BIGINT) AS FURNITURE,
           CAST(COALESCE(SUM(CASE WHEN c_mktsegment = 'HOUSEHOLD' THEN 1 END), 0) AS BIGINT) AS HOUSEHOLD,
           CAST(COALESCE(SUM(CASE WHEN c_mktsegment = 'MACHINERY' THEN 1 END), 0) AS BIGINT) AS MACHINERY
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n_name
    """,
    tags=("reshape", "O6", "J8", "A5"),
)
def pivot_onehot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long→wide pivot / membership matrix (reference J8/O6:
    R/wrapper.R:364-374 UpSet fromList). Pivot values passed explicitly —
    a single-pass pivot (no value-discovery job) with bounded width
    (SURVEY §7.5: cap pivot width, long format stays source of truth)."""
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .pivot("c_mktsegment", segs)
        .count()
        .na.fill(0, segs)
    )


@register(
    "freq_ordered_levels",
    oracle="""
    SELECT o_orderpriority AS level, COUNT(*) AS n,
           CAST(dense_rank() OVER (ORDER BY COUNT(*) DESC, o_orderpriority) AS BIGINT) AS level_rank
    FROM orders GROUP BY o_orderpriority
    """,
    tags=("relational", "P21", "W9"),
)
def freq_ordered_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-ordered categorical levels (reference P21/W9:
    R/utils.R:46-52 `sort(table(x))` as factor levels). Tiny post-agg
    window — runs on the already-aggregated (5-row) side."""
    o = load_table(spark, sf_dir, "orders")
    levels = relational.freq_ordered_levels(o, "o_orderpriority")
    return levels.withColumn("level_rank", F.col("level_rank").cast("long"))


@register(
    "top_orders_by_revenue",
    oracle="""
    SELECT o.o_orderkey, o.o_orderdate, o.o_orderpriority,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
      AND l.l_shipdate > TIMESTAMP '1997-06-01'
    GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, o.o_orderkey
    LIMIT 10
    """,
    tags=("joins", "tpch", "W6", "bench"),
)
def top_orders_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: join + grouped revenue + global top-k
    (TakeOrderedAndProject — no full sort; deterministic tiebreak on the
    key). Date filters push into both scans before the join."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1997-06-01").cast("timestamp")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


@register(
    "reorder_to_input",
    oracle="""
    WITH inp AS (
      SELECT n_name, n_regionkey,
             row_number() OVER (ORDER BY n_name) AS input_pos
      FROM nation
    ),
    joined AS (
      SELECT i.input_pos, i.n_name, r.r_name AS region_name
      FROM inp i JOIN region r ON i.n_regionkey = r.r_regionkey
    )
    SELECT input_pos, n_name, region_name,
           row_number() OVER (ORDER BY input_pos) AS restored_pos
    FROM joined
    """,
    tags=("reshape", "O9"),
)
def reorder_to_input(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Restore original input order after a scrambling join (reference O9:
    R/funx_enrichment.R:228-231 `grouped_terms[go_term_ids,]`). Order is
    carried as a position COLUMN (design rule — never implicit row order);
    the join scrambles physical order, `reorder_to_input` sorts it back,
    and `restored_pos` (rank over the restored ordering) == input_pos makes
    the restoration visible to the order-insensitive driver hash."""
    from utils_spark.operators.relational import reorder_to_input as _reorder

    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    inp = n.select(
        "n_name", "n_regionkey", F.row_number().over(Window.orderBy("n_name")).alias("input_pos")
    )
    joined = inp.join(F.broadcast(r), inp.n_regionkey == r.r_regionkey).select(
        "input_pos", "n_name", F.col("r_name").alias("region_name")
    )
    restored = _reorder(joined, "input_pos")
    return restored.withColumn(
        "restored_pos", F.row_number().over(Window.orderBy("input_pos"))
    )
