"""Coverage batch: the remaining SURVEY §2 inventory lines not already
exercised — projection variants, per-column quantiles, pipeline stage
tallies, aligned column-binds, seeded global subsets, mean-variance
feature modeling, and sample-distance / MA analyses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import NumericType

from utils_spark.functions import exact_percentile
from utils_spark.io import load_table
from utils_spark.operators import sampling
from utils_spark.registry import register


@register(
    "projection_variants",
    oracle="""
    SELECT c_custkey, c_acctbal, CAST(c_nationkey AS INT) AS c_nationkey
    FROM customer
    """,
    tags=("relational", "P2", "P3", "P4"),
)
def projection_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column drop + numeric-type selection + regex name selection composed
    (reference P2: R/reference.R:238 column drop; P3:
    R/compare_annotation.R:122 numeric-column subset; P4: R/wrapper.R:189
    regex column selection). Schema-only operations — zero compute."""
    import re

    c = load_table(spark, sf_dir, "customer")
    dropped = c.drop("c_name")  # P2
    numeric_cols = [
        f.name for f in dropped.schema.fields if isinstance(f.dataType, NumericType)
    ]  # P3
    keep = [col for col in numeric_cols if re.search(r"^c_(custkey|acctbal|nationkey)$", col)]  # P4
    return dropped.select(*keep)


@register(
    "per_column_quantiles",
    oracle="""
    SELECT 'c_acctbal' AS metric,
           ROUND(quantile_cont(c_acctbal, 0.25), 4) AS q25,
           ROUND(quantile_cont(c_acctbal, 0.50), 4) AS q50,
           ROUND(quantile_cont(c_acctbal, 0.75), 4) AS q75
    FROM customer
    UNION ALL
    SELECT 'o_totalprice' AS metric,
           ROUND(quantile_cont(o_totalprice, 0.25), 4) AS q25,
           ROUND(quantile_cont(o_totalprice, 0.50), 4) AS q50,
           ROUND(quantile_cont(o_totalprice, 0.75), 4) AS q75
    FROM orders
    """,
    tags=("aggregates", "A19"),
)
def per_column_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column quantile summaries (reference A19:
    R/compare_annotation.R:158-160 `apply(mx, 2, quantile)`), long-format
    output (one row per metric — the wide apply becomes a union of aggs)."""
    def q(df, col):
        pct = exact_percentile(col, (0.25, 0.5, 0.75))
        return df.agg(pct.alias("_p")).select(
            F.lit(col).alias("metric"),
            F.round(F.col("_p")[0], 4).alias("q25"),
            F.round(F.col("_p")[1], 4).alias("q50"),
            F.round(F.col("_p")[2], 4).alias("q75"),
        )

    return q(load_table(spark, sf_dir, "customer"), "c_acctbal").unionByName(
        q(load_table(spark, sf_dir, "orders"), "o_totalprice")
    )


@register(
    "stage_tally",
    oracle="""
    SELECT 'input' AS stage, CAST(COUNT(*) AS BIGINT) AS n FROM orders
    UNION ALL
    SELECT 'after_status_filter' AS stage, CAST(COUNT(*) AS BIGINT) AS n
    FROM orders WHERE o_orderstatus <> 'F'
    UNION ALL
    SELECT 'after_price_filter' AS stage, CAST(COUNT(*) AS BIGINT) AS n
    FROM orders WHERE o_orderstatus <> 'F' AND o_totalprice > 50000
    """,
    tags=("aggregates", "A20"),
)
def stage_tally(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline stage tallies (reference A20: R/funx_enrichment.R:56-77
    original/cleaned/converted length diffs) — row counts surviving each
    filter stage, as one unioned result."""
    o = load_table(spark, sf_dir, "orders")
    s1 = o.filter(F.col("o_orderstatus") != "F")
    s2 = s1.filter(F.col("o_totalprice") > 50000)
    return (
        o.agg(F.count("*").alias("n")).select(F.lit("input").alias("stage"), "n")
        .unionByName(s1.agg(F.count("*").alias("n")).select(F.lit("after_status_filter").alias("stage"), "n"))
        .unionByName(s2.agg(F.count("*").alias("n")).select(F.lit("after_price_filter").alias("stage"), "n"))
    )


@register(
    "aligned_cbind",
    oracle="""
    WITH a AS (SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders FROM orders GROUP BY o_custkey),
    b AS (SELECT o_custkey,
                 CAST(ROUND(SUM(o_totalprice * 10000)) AS BIGINT) / 10000.0 / COUNT(*) AS avg_price
          FROM orders WHERE o_orderstatus <> 'P' GROUP BY o_custkey)
    SELECT COALESCE(a.o_custkey, b.o_custkey) AS o_custkey,
           a.n_orders, b.avg_price,
           CASE WHEN a.o_custkey IS NULL OR b.o_custkey IS NULL THEN 1 ELSE 0 END AS misaligned
    FROM a FULL OUTER JOIN b ON a.o_custkey = b.o_custkey
    """,
    tags=("joins", "J6", "J7"),
)
def aligned_cbind(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aligned column-bind as a key-based full outer join with a mismatch
    indicator (reference J6/J7: R/wrapper.R:111 cbind on implicit row keys,
    R/reference.R:249-256 identity-check-then-combine). Design rule: NEVER
    positional — alignment is always by key, mismatches are data, not
    errors (the reference's stop() becomes a filterable flag).

    Float note: per-customer averages of decimal-quantized prices with
    power-of-2 group counts land EXACTLY on round-half boundaries, where
    engines' last-ulp sum differences flip the rounding. The avg is
    therefore computed as exact-integer-numerator division
    (round(sum(price·1e4)) recovers the true integer because accumulated
    float error ≪ 0.5), giving bit-identical doubles with no rounding."""
    o = load_table(spark, sf_dir, "orders")
    a = o.groupBy("o_custkey").agg(F.count("*").alias("n_orders"))
    b = (
        o.filter(F.col("o_orderstatus") != "P")
        .groupBy("o_custkey")
        .agg(
            (F.round(F.sum(F.col("o_totalprice") * 10000)).cast("long") / 10000.0 / F.count("*")).alias(
                "avg_price"
            )
        )
    )
    return (
        a.alias("a")
        .join(b.alias("b"), F.col("a.o_custkey") == F.col("b.o_custkey"), "full_outer")
        .select(
            F.coalesce(F.col("a.o_custkey"), F.col("b.o_custkey")).alias("o_custkey"),
            "n_orders",
            "avg_price",
            F.when(F.col("a.o_custkey").isNull() | F.col("b.o_custkey").isNull(), 1)
            .otherwise(0)
            .alias("misaligned"),
        )
    )


@register(
    "random_subset",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(p_partkey) AS BIGINT) AS key_checksum,
           ROUND(SUM(p_retailprice), 4) AS price_sum
    FROM (SELECT * FROM part
          ORDER BY md5(concat(CAST(p_partkey AS VARCHAR), ':', '290')) LIMIT 50)
    """,
    tags=("windows", "W8", "sampling"),
)
def random_subset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded global random subset of n rows (reference W8:
    R/tradeseq.R:24 nGenes=500 random genes), deterministic via md5
    ordering (SURVEY §7.2); checksummed so the oracle proves the exact
    same rows were selected. TakeOrderedAndProject — no full sort."""
    p = load_table(spark, sf_dir, "part")
    return (
        sampling.random_subset(p, "p_partkey", 50, seed=290)
        .agg(
            F.count("*").alias("n"),
            F.sum("p_partkey").cast("long").alias("key_checksum"),
            F.round(F.sum("p_retailprice"), 4).alias("price_sum"),
        )
    )


@register(
    "mean_var_topk",
    oracle="""
    SELECT l_partkey, CAST(n AS BIGINT) AS n,
           ROUND(mean_qty, 6) AS mean_qty, ROUND(var_qty, 6) AS var_qty
    FROM (
      SELECT l_partkey, COUNT(*) AS n, AVG(l_quantity) AS mean_qty,
             var_samp(l_quantity) AS var_qty,
             row_number() OVER (ORDER BY ROUND(var_samp(l_quantity), 6) DESC, l_partkey) AS rnk
      FROM lineitem GROUP BY l_partkey HAVING COUNT(*) >= 5
    ) WHERE rnk <= 20
    """,
    tags=("stats", "M2", "M20"),
)
def mean_var_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-feature mean-variance modeling + top-k variable-feature selection
    (reference M2: R/wrapper.R:259-264 modelGeneVar → denoised PCs; M20:
    R/bitfam.R:3-13 top-5000 variable genes). Hash agg then a top-k window
    over the aggregated (small) side; variance rounded before ranking so
    ordering is engine-stable."""
    li = load_table(spark, sf_dir, "lineitem")
    agg = (
        li.groupBy("l_partkey")
        .agg(
            F.count("*").alias("n"),
            F.avg("l_quantity").alias("mean_qty"),
            F.var_samp("l_quantity").alias("var_qty"),
        )
        .filter(F.col("n") >= 5)
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.desc(F.round("var_qty", 6)), F.asc("l_partkey"))
    return (
        agg.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 20)
        .select(
            "l_partkey",
            "n",
            F.round("mean_qty", 6).alias("mean_qty"),
            F.round("var_qty", 6).alias("var_qty"),
        )
    )


@register(
    "sample_distances",
    oracle="""
    WITH prof AS (
      SELECT c_mktsegment AS seg, AVG(c_acctbal) AS mu, stddev_samp(c_acctbal) AS sd
      FROM customer GROUP BY c_mktsegment
    )
    SELECT a.seg AS seg_a, b.seg AS seg_b,
           ROUND(sqrt((a.mu - b.mu) * (a.mu - b.mu) + (a.sd - b.sd) * (a.sd - b.sd)), 6)
             AS euclidean
    FROM prof a JOIN prof b ON a.seg < b.seg
    """,
    tags=("stats", "M21"),
)
def sample_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise sample-distance matrix over per-group summary profiles
    (reference M21: R/qc_rna.R:93-115 plot_sample_clustering euclidean) —
    the profile table is tiny after aggregation; the O(k²) self-join is on
    k = #groups, never on raw rows."""
    c = load_table(spark, sf_dir, "customer")
    prof = c.groupBy(F.col("c_mktsegment").alias("seg")).agg(
        F.avg("c_acctbal").alias("mu"), F.stddev_samp("c_acctbal").alias("sd")
    )
    a, b = prof.alias("a"), prof.alias("b")
    dist = F.sqrt(
        (F.col("a.mu") - F.col("b.mu")) * (F.col("a.mu") - F.col("b.mu"))
        + (F.col("a.sd") - F.col("b.sd")) * (F.col("a.sd") - F.col("b.sd"))
    )
    return a.join(F.broadcast(b), F.col("a.seg") < F.col("b.seg")).select(
        F.col("a.seg").alias("seg_a"), F.col("b.seg").alias("seg_b"), F.round(dist, 6).alias("euclidean")
    )


@register(
    "ma_pairs",
    oracle="""
    WITH g AS (
      SELECT l_partkey,
             AVG(CASE WHEN l_returnflag = 'A' THEN l_extendedprice END) AS price_a,
             AVG(CASE WHEN l_returnflag = 'R' THEN l_extendedprice END) AS price_r
      FROM lineitem GROUP BY l_partkey
    )
    SELECT l_partkey,
           ROUND(LOG2(price_a / price_r), 6) AS m_log_ratio,
           ROUND(0.5 * (LOG2(price_a) + LOG2(price_r)), 6) AS a_mean_log
    FROM g WHERE price_a IS NOT NULL AND price_r IS NOT NULL
    """,
    tags=("stats", "M21", "P18"),
)
def ma_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MA-style comparison between two conditions per feature (reference
    M21: R/qc_rna.R plot_sample_MAs): M = log2 ratio, A = mean log2 —
    one conditional-aggregation pass, map-side math."""
    li = load_table(spark, sf_dir, "lineitem")
    g = li.groupBy("l_partkey").agg(
        F.avg(F.when(F.col("l_returnflag") == "A", F.col("l_extendedprice"))).alias("price_a"),
        F.avg(F.when(F.col("l_returnflag") == "R", F.col("l_extendedprice"))).alias("price_r"),
    )
    return (
        g.filter(F.col("price_a").isNotNull() & F.col("price_r").isNotNull())
        .select(
            "l_partkey",
            F.round(F.log2(F.col("price_a") / F.col("price_r")), 6).alias("m_log_ratio"),
            F.round(0.5 * (F.log2("price_a") + F.log2("price_r")), 6).alias("a_mean_log"),
        )
    )


@register(
    "grouping_rollup",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(COUNT(*) AS BIGINT) AS n, ROUND(SUM(l_extendedprice), 2) AS sum_price
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    tags=("aggregates", "A21", "rollup"),
)
def grouping_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical ROLLUP (subtotals + grand total) completing the
    grouping-sets family next to the full cube (grouping_sets_cube)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"), F.round(F.sum("l_extendedprice"), 2).alias("sum_price")
    )


@register(
    "nth_event_snapshot",
    oracle="""
    WITH ev AS (
      SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type FROM events
    )
    SELECT DISTINCT user_id,
           first_value(event_type) OVER w AS first_type,
           nth_value(event_type, 3) OVER w AS third_type,
           last_value(event_type) OVER w AS last_type
    FROM ev
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
    tags=("windows", "nth-value"),
)
def nth_event_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-entity timeline snapshot via first/nth/last_value over the full
    partition frame — the 'user journey' summary (first touch, third
    touch, latest state) in one pass."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        e.select(
            "user_id",
            F.first("event_type").over(w).alias("first_type"),
            F.nth_value("event_type", 3).over(w).alias("third_type"),
            F.last("event_type").over(w).alias("last_type"),
        )
        .distinct()
    )


@register(
    "null_ordering",
    oracle="""
    WITH e AS (
      SELECT event_id, NULLIF(value, 0.0) AS v, event_type FROM events WHERE event_id < 500
    )
    SELECT event_id, v,
           CAST(row_number() OVER (ORDER BY v ASC NULLS FIRST, event_id) AS BIGINT) AS rn_nulls_first,
           CAST(row_number() OVER (ORDER BY v DESC NULLS LAST, event_id) AS BIGINT) AS rn_nulls_last
    FROM e
    """,
    tags=("windows", "nulls", "ordering"),
)
def null_ordering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXPLICIT null-ordering semantics: Spark defaults to NULLS FIRST on
    ASC while DuckDB defaults to NULLS LAST — cross-engine sorts must
    always spell the placement out (asc_nulls_first / desc_nulls_last).
    This query pins both conventions under ranking."""
    from pyspark.sql import Window

    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") < 500)
        .select("event_id", F.nullif(F.col("value"), F.lit(0.0)).alias("v"))
    )
    w1 = Window.orderBy(F.asc_nulls_first("v"), F.asc("event_id"))
    w2 = Window.orderBy(F.desc_nulls_last("v"), F.asc("event_id"))
    return e.select(
        "event_id",
        "v",
        F.row_number().over(w1).cast("long").alias("rn_nulls_first"),
        F.row_number().over(w2).cast("long").alias("rn_nulls_last"),
    )


@register(
    "grouped_mode",
    oracle="""
    SELECT o_orderpriority, modal_status, CAST(n AS BIGINT) AS n
    FROM (
      SELECT o_orderpriority, o_orderstatus AS modal_status, COUNT(*) AS n,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY COUNT(*) DESC, o_orderstatus) AS rn
      FROM orders GROUP BY o_orderpriority, o_orderstatus
    ) WHERE rn = 1
    """,
    tags=("aggregates", "mode", "P21"),
)
def grouped_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-group mode (most frequent value, ties broken by
    value): count + rank rather than the built-in mode() aggregate, whose
    tie behavior is engine-defined — the portable formulation."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    counts = o.groupBy("o_orderpriority", F.col("o_orderstatus").alias("modal_status")).agg(
        F.count("*").alias("n")
    )
    w = Window.partitionBy("o_orderpriority").orderBy(F.desc("n"), F.asc("modal_status"))
    return (
        counts.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1).drop("rn")
    )


@register(
    "csv_roundtrip_scan",
    # driver anchor for the io layer S1-S4 (delimited scan) + S8 (CSV
    # sink), previously unit-tested only: the query sinks a derived join to
    # CSV, rescans it with the delimited reader (header + schema
    # inference), and aggregates the RESCANNED rows with per-group key
    # checksums; the oracle computes the identical aggregate straight from
    # parquet, so a pass proves the sink+scan roundtrip preserved every
    # row, key, and string byte-for-byte.
    oracle="""
    SELECT r_name, COUNT(*) AS n_suppliers,
           CAST(SUM(s_suppkey) AS BIGINT) AS key_checksum,
           CAST(SUM(length(s_name)) AS BIGINT) AS name_chars
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
    tags=("io", "S1", "S2", "S3", "S4", "S8", "roundtrip"),
)
def csv_roundtrip_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink + delimited-scan roundtrip (reference S1-S4/S8:
    R/reference.R:234-241 fread/read.csv, R/funx_enrichment.R:152-154
    write.csv): supplier x nation x region joined, sunk to CSV, rescanned
    via the S1-S4 reader, and checksummed per region."""
    import uuid

    from utils_spark.io import read_delimited, write_csv

    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    derived = (
        s.join(n, s.s_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .select("s_suppkey", "s_name", "r_name")
    )
    # per-invocation token: two concurrent sessions on the same sf_dir must
    # not race on one path (the rescan below is lazy, so the directory has
    # to survive until the caller collects — no eager cleanup here; the
    # uuid keeps stale leftovers from ever being re-read)
    path = f"/tmp/utils_spark_csv_roundtrip_{uuid.uuid4().hex[:12]}"
    write_csv(derived, path)
    back = read_delimited(spark, path, sep=",", header=True)
    return back.groupBy("r_name").agg(
        F.count("*").alias("n_suppliers"),
        F.sum("s_suppkey").cast("long").alias("key_checksum"),
        F.sum(F.length("s_name")).cast("long").alias("name_chars"),
    )


@register(
    "jsonl_roundtrip_scan",
    # JSONL sink + scan roundtrip over the documents table — the format
    # LLM corpora ship in. The rescan aggregate checksums doc ids, byte
    # lengths, AND a concatenated-text md5 per (source, lang) group, so a
    # pass proves JSON string escaping round-tripped every text
    # byte-for-byte; the oracle computes the same directly from parquet.
    oracle="""
    SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(doc_id) AS BIGINT) AS id_checksum,
           CAST(SUM(length(text)) AS BIGINT) AS text_chars,
           md5(string_agg(text, chr(1) ORDER BY doc_id)) AS text_digest
    FROM documents
    GROUP BY source, lang
    """,
    tags=("io", "jsonl", "llm-pipeline", "roundtrip"),
)
def jsonl_roundtrip_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL sink + scan roundtrip: the documents table is written as
    JSON-Lines (the de-facto LLM-corpus interchange format), rescanned
    with an explicit schema (no inference pass), and checksummed per
    (source, lang) — row counts, id sums, character counts, and an
    order-canonicalized md5 digest of every text byte. A pass proves the
    JSON escaping/unescaping round-trip is lossless.

    Scale shape: sink and scan are both partition-parallel (one output
    file per task, no shuffle); the digest aggregation shuffles only
    (source, lang) groups and sorts within each — at corpus scale the
    digest would switch to an order-insensitive XOR-of-md5 to avoid the
    per-group sort, which `curated_export_roundtrip` demonstrates."""
    import uuid

    from utils_spark.io import read_jsonl, write_jsonl

    d = load_table(spark, sf_dir, "documents")
    path = f"/tmp/utils_spark_jsonl_roundtrip_{uuid.uuid4().hex[:12]}"
    write_jsonl(d, path)
    back = read_jsonl(spark, path, schema=d.schema)
    return (
        back.groupBy("source", "lang").agg(
            F.count("*").alias("n_docs"),
            F.sum("doc_id").cast("long").alias("id_checksum"),
            F.sum(F.length("text")).cast("long").alias("text_chars"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct(F.col("doc_id"), F.col("text")))
                        ),
                        lambda s: s["text"],
                    ),
                    "\x01",
                )
            ).alias("text_digest"),
        )
    )


@register(
    "orc_roundtrip_scan",
    # ORC sink + scan roundtrip (DuckDB cannot read ORC, so the oracle
    # computes the identical aggregate straight from parquet — the rescan
    # must reproduce every row, key, timestamp, and decimal exactly)
    oracle="""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(event_id) AS BIGINT) AS id_checksum,
           ROUND(SUM(value), 4) AS total_value,
           CAST(epoch_us(MIN(ts)) AS BIGINT) AS first_ts_us,
           CAST(epoch_us(MAX(ts)) AS BIGINT) AS last_ts_us
    FROM events GROUP BY event_type
    """,
    tags=("io", "orc", "roundtrip"),
)
def orc_roundtrip_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + scan roundtrip over the events table: write ORC, rescan,
    and checksum per event type — counts, id sums, value totals, and
    epoch-microsecond min/max TIMESTAMPS (the type whose representation is
    most likely to drift across formats). A pass proves the ORC
    writer/reader preserves longs, doubles, and microsecond timestamps
    exactly.

    Scale shape: format conversion is partition-parallel map-only (no
    shuffle); the checksum aggregation shuffles a handful of event-type
    keys."""
    import uuid

    from utils_spark.io import read_orc, write_orc

    e = load_table(spark, sf_dir, "events")
    path = f"/tmp/utils_spark_orc_roundtrip_{uuid.uuid4().hex[:12]}"
    write_orc(e, path)
    back = read_orc(spark, path)
    return back.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("event_id").cast("long").alias("id_checksum"),
        F.round(F.sum("value"), 4).alias("total_value"),
        F.unix_micros(F.min("ts")).alias("first_ts_us"),
        F.unix_micros(F.max("ts")).alias("last_ts_us"),
    )


@register(
    "converter_roundtrip",
    # the matrix is derived from lineitem with a BOUNDED key space
    # (97 cells x 61 genes), so the oracle can recompute the identical
    # pseudobulk straight from lineitem: double sums of integer-valued
    # quantities are exact in both engines
    oracle="""
    WITH coo AS (
      SELECT CAST(l_orderkey % 97 AS BIGINT) AS cell_id,
             CAST(l_partkey % 61 AS BIGINT) AS gene_id,
             SUM(CAST(l_quantity AS DOUBLE)) AS value
      FROM lineitem GROUP BY 1, 2
    )
    SELECT 'grp_' || CAST(cell_id % 5 AS VARCHAR) AS label,
           gene_id,
           ROUND(SUM(value), 4) AS total,
           CAST(COUNT(*) AS BIGINT) AS n_cells_expressing
    FROM coo GROUP BY 1, 2
    """,
    tags=("io", "S5", "S6", "S9", "converter", "roundtrip"),
)
def converter_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Converter-contract roundtrip (reference S5/S6/S9: R/reference.R:38,78
    readRDS / LoomExperiment::import — converted offline per SURVEY §2.1):
    a COO matrix derived from lineitem is written through the converters'
    OWN parquet contract writer (same arrow schema + incremental row-group
    ParquetWriter that ``loom_to_parquet`` streams HDF5 blocks into, in two
    chunks to exercise multi-row-group appends), read back through
    ``load_matrix_tables`` (which enforces the dtype contract), and pushed
    through ``pseudobulk_from_matrix`` — the reference's first post-load
    step. The h5py block *reader* stays env-gated (no h5py here); this
    anchors everything downstream of it: schema, writer, validation,
    loader, and first operator.

    The driver-side collect is bounded by the 97x61 key space (<= 5,917
    rows at ANY SF), not the data volume."""
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    from utils_spark.converters import (
        load_matrix_tables,
        matrix_contract_schema,
        open_matrix_writer,
        pseudobulk_from_matrix,
    )

    li = load_table(spark, sf_dir, "lineitem")
    coo = (
        li.select(
            (F.col("l_orderkey") % 97).cast("long").alias("cell_id"),
            (F.col("l_partkey") % 61).cast("long").alias("gene_id"),
            F.col("l_quantity").cast("double").alias("value"),
        )
        .groupBy("cell_id", "gene_id")
        .agg(F.sum("value").alias("value"))
        .orderBy("cell_id", "gene_id")
    )
    rows = coo.collect()
    out_dir = f"/tmp/utils_spark_converter_roundtrip_{uuid.uuid4().hex[:12]}"
    schema = matrix_contract_schema()
    with open_matrix_writer(out_dir) as w:
        half = max(1, len(rows) // 2)
        for chunk in (rows[:half], rows[half:]):
            if chunk:
                w.write_table(
                    pa.table(
                        {
                            "cell_id": [r["cell_id"] for r in chunk],
                            "gene_id": [r["gene_id"] for r in chunk],
                            "value": [r["value"] for r in chunk],
                        },
                        schema=schema,
                    )
                )
    pq.write_table(
        pa.table(
            {
                "cell_id": pa.array(range(97), pa.int64()),
                "label": [f"grp_{i % 5}" for i in range(97)],
            }
        ),
        f"{out_dir}/cells.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "gene_id": pa.array(range(61), pa.int64()),
                "symbol": [f"G{i:03d}" for i in range(61)],
            }
        ),
        f"{out_dir}/genes.parquet",
    )
    tables = load_matrix_tables(spark, out_dir)
    pb = pseudobulk_from_matrix(tables, "label")
    return pb.select(
        "label",
        "gene_id",
        F.round("total", 4).alias("total"),
        "n_cells_expressing",
    )


@register(
    "xml_roundtrip_scan",
    # XML sink + scan roundtrip over the documents table (Spark 4's
    # built-in xml source — the feed format enterprise corpora still
    # arrive in). Same digest discipline as the JSONL roundtrip: a pass
    # proves entity escaping (&amp;/&lt;/&gt;) and surrounding-space
    # handling round-tripped every text byte; the oracle computes the
    # identical aggregate straight from parquet.
    oracle="""
    SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(doc_id) AS BIGINT) AS id_checksum,
           CAST(SUM(length(text)) AS BIGINT) AS text_chars,
           md5(string_agg(text, chr(1) ORDER BY doc_id)) AS text_digest
    FROM documents
    GROUP BY source, lang
    """,
    tags=("io", "xml", "roundtrip"),
)
def xml_roundtrip_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML sink + scan roundtrip: the documents table written as one
    <row> element per record, rescanned with an explicit schema and
    ``ignoreSurroundingSpaces`` off (the reader default TRIMS element
    text — a silent corpus mutation this query would catch), then
    checksummed per (source, lang) with the same order-canonicalized
    text digest as `jsonl_roundtrip_scan`. A pass proves XML entity
    escaping is lossless on real corpus text.

    Scale shape: sink and scan are partition-parallel (no shuffle); the
    digest aggregation shuffles (source, lang) groups only."""
    import uuid

    from utils_spark.io import read_xml, write_xml

    d = load_table(spark, sf_dir, "documents")
    path = f"/tmp/utils_spark_xml_roundtrip_{uuid.uuid4().hex[:12]}"
    write_xml(d, path)
    back = read_xml(spark, path, schema=d.schema)
    return back.groupBy("source", "lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("doc_id").cast("long").alias("id_checksum"),
        F.sum(F.length("text")).cast("long").alias("text_chars"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("doc_id"), F.col("text")))
                    ),
                    lambda s: s["text"],
                ),
                "\x01",
            )
        ).alias("text_digest"),
    )
