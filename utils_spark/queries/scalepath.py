"""Scale-path and streaming-twin queries: sliding event-time windows,
native session_window certified against pure SQL, embedding-cosine
near-duplicate detection, and the approx-sketch variants that replace
exact aggregates at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from utils_spark.functions import cosine_similarity, exact_percentile, to_double_array, utc_day
from utils_spark.io import load_table
from utils_spark.registry import register


@register(
    "sliding_window",
    oracle="""
    WITH ev AS (SELECT CAST(ts AS TIMESTAMP) AS ts, event_type, value FROM events),
    expanded AS (
      SELECT time_bucket(INTERVAL '30 minutes', ts) - j.off * INTERVAL '30 minutes' AS window_start,
             event_type, value
      FROM ev, (SELECT unnest(range(0, 2)) AS off) j
    )
    SELECT window_start, event_type,
           CAST(COUNT(*) AS BIGINT) AS n, ROUND(SUM(value), 4) AS total_value
    FROM expanded
    GROUP BY window_start, event_type
    """,
    tags=("temporal", "streaming-batch", "sliding"),
)
def sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time windows (1 h window, 30 min slide): every event
    lands in window/slide = 2 overlapping windows. Same F.window operator
    the streaming path uses; the oracle replicates the semantics by
    explicit window-offset expansion."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total_value")
    )


@register(
    "session_window_native",
    oracle="""
    WITH ev AS (
      SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events
    ),
    gaps AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                       OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000
                  THEN 1 ELSE 0 END AS new_session
      FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, ts, value,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM gaps
    )
    SELECT user_id, MIN(ts) AS session_start,
           MAX(ts) + INTERVAL '30 minutes' AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 4) AS session_value
    FROM sess GROUP BY user_id, sid
    """,
    tags=("temporal", "streaming-batch", "session"),
)
def session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's NATIVE session_window operator run in batch and certified
    against first-principles SQL sessionization — proving the streaming
    session operator's exact semantics (session end = last event + gap;
    a gap of exactly 30 min starts a NEW session, hence >= in the oracle)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 4).alias("session_value"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "session_value",
        )
    )


@register(
    "embedding_near_dup",
    # the raw corpus has NO cosine-0.95 pairs (max pair cosine ~0.6), so
    # an un-augmented run is vacuously green; 20 perturbed copies (same
    # engine-exact arithmetic as semantic_dedup_keep) plant real near-dups
    # so the LSH candidate stage + exact verify emit actual pairs that the
    # brute-force oracle must reproduce value-for-value
    oracle="""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    planted AS (
      SELECT v.vec_id + 1000000 AS vec_id,
             list_transform(range(1, 65),
                            i -> v.e[i] + 0.008 * (((v.vec_id * 31 + i * 17) % 13) - 6)) AS e
      FROM v WHERE v.vec_id < 20
    ),
    aug AS (SELECT * FROM v UNION ALL SELECT * FROM planted)
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND(list_dot_product(a.e, b.e)
                 / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))), 6)
             AS cosine
    FROM aug a JOIN aug b ON a.vec_id < b.vec_id
    WHERE list_dot_product(a.e, b.e)
          / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))) >= 0.95
    """,
    tags=("vector", "dedup", "near-dup"),
)
def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cosine ≥ 0.95) — the
    semantic-dedup primitive of the north star, in its 100 TB shape:
    random-hyperplane LSH candidate generation (banded equi-self-join,
    never a cross join) + exact-cosine verification on candidates only.
    The corpus carries no natural cosine-0.95 pair (max ~0.6), so 20
    deterministic perturbed copies (cosine ≈ 0.97 to their originals) are
    planted — the query must surface exactly those pairs with exact
    cosines, making recall a VALUE-level driver check rather than a
    vacuous empty match. The oracle is the brute-force all-pairs SQL over
    the same augmented set; LSH recall is probabilistic, but 32 bands
    push the per-pair miss probability below 2e-8 at the threshold
    (~2e-11 at the planted cosine). tests/test_plans.py asserts the
    physical plan has no cartesian/BNLJ; tests/test_scalepath.py proves
    recall on independently planted near-dups."""
    from utils_spark.operators.similarity import lsh_near_dup_pairs
    from utils_spark.functions import to_double_array as _tda
    from utils_spark.queries.vector import perturbed_copies

    e = load_table(spark, sf_dir, "embeddings")
    v = e.select("vec_id", _tda("embedding").alias("v"))
    aug = v.unionAll(perturbed_copies(v.filter(F.col("vec_id") < 20), 1000000, 0.008))
    pairs = lsh_near_dup_pairs(aug, "vec_id", "v", threshold=0.95, bands=32, dim=64)
    return pairs.select(
        F.col("key_a").alias("vec_a"), F.col("key_b").alias("vec_b"), "cosine"
    )


@register(
    "approx_sketch_aggs",
    # bound-satisfaction oracle (was rows-only): sketch values differ per
    # engine so raw outputs can't be compared, but their ERROR BOUNDS can —
    # the query emits booleans asserting each sketch landed inside a bound
    # far looser than its guarantee (approx median within the exact p40-p60
    # band, where the accuracy-10000 sketch guarantees rank error <= n/10000;
    # HLL count within 5%, where rsd = 1%), and the oracle is the constant
    # all-true table. A broken sketch, merge, or group wiring flips a
    # boolean. Exact-vs-approx deltas stay measured in tests/test_scalepath.py.
    oracle="""
    SELECT l_returnflag, COUNT(*) AS n,
           true AS median_in_bounds, true AS distinct_in_bounds
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("aggregates", "approx", "scale-path", "certificate"),
)
def approx_sketch_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documented 100 TB switch for the exact correctness-path aggs:
    percentile_approx (mergeable t-digest-style sketch) replacing exact
    percentile, approx_count_distinct (HyperLogLog++) replacing exact
    count-distinct. Fully mergeable → single partial+final pass, codegen
    intact, bounded memory per group at any scale. Certified by bound
    satisfaction against the exact answers computed alongside."""
    li = load_table(spark, sf_dir, "lineitem")
    approx = li.groupBy("l_returnflag").agg(
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("med_a"),
        F.approx_count_distinct("l_orderkey", 0.01).alias("cd_a"),
        F.count("*").alias("n"),
    )
    exact = li.groupBy("l_returnflag").agg(
        exact_percentile("l_extendedprice", (0.4, 0.6)).alias("band"),
        F.countDistinct("l_orderkey").alias("cd"),
    )
    return approx.join(exact, "l_returnflag").select(
        "l_returnflag",
        "n",
        (
            (F.col("med_a") >= F.element_at("band", 1))
            & (F.col("med_a") <= F.element_at("band", 2))
        ).alias("median_in_bounds"),
        (F.abs(F.col("cd_a") - F.col("cd")) <= 0.05 * F.col("cd")).alias("distinct_in_bounds"),
    )


@register(
    "weighted_sample",
    oracle="""
    WITH scored AS (
      SELECT p_partkey, p_brand, p_retailprice,
             -ln((CAST(('0x' || substr(md5(concat(CAST(p_partkey AS VARCHAR), ':', '290')), 1, 15)) AS BIGINT) + 1.0)
                 / 1152921504606846976.0) / p_retailprice AS score
      FROM part
    ),
    picked AS (
      SELECT p_brand, p_partkey, p_retailprice FROM (
        SELECT *, row_number() OVER (PARTITION BY p_brand ORDER BY score, p_partkey) AS rn
        FROM scored
      ) WHERE rn <= 5
    )
    SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n_sampled,
           CAST(SUM(p_partkey) AS BIGINT) AS key_checksum,
           ROUND(SUM(p_retailprice), 4) AS price_sum
    FROM picked GROUP BY p_brand
    """,
    tags=("sampling", "weighted", "W7"),
)
def weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling (Efraimidis-Spirakis exponential
    race, price-proportional inclusion) of 5 parts per brand, checksummed
    per stratum so the oracle proves the exact same rows were chosen —
    the distributed weighted-reservoir primitive (extends the reference's
    uniform stratified sampling W7)."""
    from utils_spark.operators.sampling import weighted_sample_exact

    p = load_table(spark, sf_dir, "part")
    picked = weighted_sample_exact(p, "p_brand", "p_partkey", "p_retailprice", 5, seed=290)
    return picked.groupBy("p_brand").agg(
        F.count("*").alias("n_sampled"),
        F.sum("p_partkey").cast("long").alias("key_checksum"),
        F.round(F.sum("p_retailprice"), 4).alias("price_sum"),
    )


@register(
    "group_entropy",
    oracle="""
    WITH counts AS (
      SELECT c_mktsegment, n_name, COUNT(*) AS n
      FROM customer c JOIN nation nn ON c.c_nationkey = nn.n_nationkey
      GROUP BY c_mktsegment, n_name
    ),
    p AS (
      SELECT c_mktsegment, n,
             CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY c_mktsegment) AS prob
      FROM counts
    )
    SELECT c_mktsegment,
           ROUND(-SUM(prob * ln(prob)), 6) AS shannon_entropy,
           ROUND(1.0 / SUM(prob * prob), 6) AS inv_simpson,
           CAST(COUNT(*) AS BIGINT) AS n_categories
    FROM p GROUP BY c_mktsegment
    """,
    tags=("stats", "entropy", "M11"),
)
def group_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group categorical diversity: Shannon entropy and inverse
    Simpson index over the nation mix of each market segment — the
    global form of the reference's LISI neighborhood diversity (M11:
    R/integrate.R:188-212, inverse Simpson over label mixes)."""
    from pyspark.sql import Window

    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    counts = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_mktsegment", "n_name")
        .agg(F.count("*").alias("n"))
    )
    wp = Window.partitionBy("c_mktsegment")
    p = counts.withColumn("prob", F.col("n").cast("double") / F.sum("n").over(wp))
    return p.groupBy("c_mktsegment").agg(
        F.round(-F.sum(F.col("prob") * F.log("prob")), 6).alias("shannon_entropy"),
        F.round(1.0 / F.sum(F.col("prob") * F.col("prob")), 6).alias("inv_simpson"),
        F.count("*").alias("n_categories"),
    )


@register(
    "skew_salted_join",
    # the salted join must produce EXACTLY the plain join's result — the
    # oracle is the unsalted SQL join, so a pass proves salting is purely
    # a physical redistribution (no dropped/duplicated rows on hot keys)
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(l_quantity) AS BIGINT) AS qty_sum,
           ROUND(SUM(l_extendedprice), 2) AS price_sum
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
    tags=("scale-path", "skew", "join"),
)
def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted skew join driven through the oracle gate: lineitem (big,
    power-law order sizes) joins orders through `skew.salted_join` — the
    big side is salted into 8 buckets, the other side replicated 8x — and
    the aggregate must equal the plain SQL join exactly, proving the salt
    is a pure physical redistribution. The explicit strategy for hot-key
    joins AQE's sort-merge skew split can't reach (see operators/skew.py);
    at 100 TB this is the difference between 8 straggler-free tasks and
    one task holding the hottest key's entire payload."""
    from utils_spark.operators.skew import salted_join

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity", "l_extendedprice")
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    joined = salted_join(li, o, "l_orderkey", salt_buckets=8)
    return joined.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_lines"),
        F.sum("l_quantity").cast("long").alias("qty_sum"),
        F.round(F.sum("l_extendedprice"), 2).alias("price_sum"),
    )


@register(
    "train_holdout_split",
    # the split is md5-deterministic on (doc_id, seed), so DuckDB
    # reproduces the EXACT membership: same hash, same bucket arithmetic,
    # same cut — per-split counts and id checksums are hash-exact. NOTE
    # the double md5: split_train_holdout buckets on md5_long(det_order_key)
    # = md5 of the md5-hex ordering key
    oracle="""
    WITH b AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(md5(CAST(doc_id AS VARCHAR) || ':' || '290')), 1, 15)) AS BIGINT)
               % 1000000 AS bucket
      FROM documents
    )
    SELECT CASE WHEN bucket < 100000 THEN 'holdout' ELSE 'train' END AS split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(doc_id) AS BIGINT) AS id_checksum
    FROM b GROUP BY 1
    """,
    tags=("sampling", "llm-pipeline", "split"),
)
def train_holdout_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/holdout split (10% holdout) for eval-set
    carving — membership depends only on (doc_id, seed) via md5, so it is
    stable across runs, partitionings, cluster sizes, AND engines (the
    oracle recomputes the exact same membership). The contamination-safe
    way to hold out evaluation data at 100 TB: no rand(), no state, a
    map-only filter either side."""
    from utils_spark.operators.sampling import split_train_holdout

    d = load_table(spark, sf_dir, "documents").select(F.col("doc_id").cast("long"))
    train, hold = split_train_holdout(d, "doc_id", holdout_fraction=0.1, seed=290)
    out = train.withColumn("split", F.lit("train")).unionByName(
        hold.withColumn("split", F.lit("holdout"))
    )
    return out.groupBy("split").agg(
        F.count("*").alias("n_docs"),
        F.sum("doc_id").cast("long").alias("id_checksum"),
    )


_ZORDER_MORTON = " + ".join(
    f"(((xb >> {b}) & 1) << {2 * b}) + (((yb >> {b}) & 1) << {2 * b + 1})"
    for b in range(8)
)


@register(
    "zorder_layout",
    # multi-dimensional data layout: range-bucket two join/filter keys to
    # 8 bits each, interleave the bits (16-bit Morton / Z-order code), and
    # report per-Z-chunk min/max footprints — the exact statistics a
    # parquet reader prunes row groups with. Pure integer arithmetic,
    # bit-identical across engines.
    oracle=f"""
    WITH ext AS (
      SELECT MIN(l_orderkey) AS minx, MAX(l_orderkey) AS maxx,
             MIN(l_partkey) AS miny, MAX(l_partkey) AS maxy
      FROM lineitem
    ),
    bucketed AS (
      SELECT ((l_orderkey - minx) * 256) // (maxx - minx + 1) AS xb,
             ((l_partkey - miny) * 256) // (maxy - miny + 1) AS yb
      FROM lineitem CROSS JOIN ext
    ),
    z AS (SELECT xb, yb, ({_ZORDER_MORTON}) AS morton FROM bucketed)
    SELECT CAST(morton >> 8 AS INT) AS z_chunk,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(xb) AS INT) AS min_xb, CAST(MAX(xb) AS INT) AS max_xb,
           CAST(MIN(yb) AS INT) AS min_yb, CAST(MAX(yb) AS INT) AS max_yb
    FROM z GROUP BY 1
    """,
    tags=("layout", "scale-path", "zorder", "data-skipping"),
)
def zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering layout for multi-dimensional data
    skipping: range-bucket (l_orderkey, l_partkey) into 256 levels each,
    interleave the bits into a 16-bit Z-code, and emit each 256-row-group
    Z-chunk's min/max footprint in BOTH dimensions. Sorting files by this
    code before writing gives every chunk a ≤ 16/256 span in every
    interleaved dimension simultaneously — so a predicate on EITHER key
    prunes ~15/16 of row groups from parquet min/max stats alone, which a
    single-column sort only achieves for its one leading column.

    Scale shape: the extent probe is one tiny all-agg broadcast; bucket +
    interleave are map-only integer expressions (whole-stage codegen, no
    UDF); the chunk profile is a single bounded aggregation (256 keys).
    The write path is `repartitionByRange(morton)` + sortWithinPartitions
    — one range shuffle, the same cost as any global sort-write
    (tests/test_scalepath.py drives the actual file write and verifies
    per-file footprints prune)."""
    li = load_table(spark, sf_dir, "lineitem")
    ext = F.broadcast(
        li.agg(
            F.min("l_orderkey").alias("minx"),
            F.max("l_orderkey").alias("maxx"),
            F.min("l_partkey").alias("miny"),
            F.max("l_partkey").alias("maxy"),
        )
    )
    bucketed = li.select("l_orderkey", "l_partkey").crossJoin(ext).select(
        F.expr("((l_orderkey - minx) * 256) DIV (maxx - minx + 1)").alias("xb"),
        F.expr("((l_partkey - miny) * 256) DIV (maxy - miny + 1)").alias("yb"),
    )
    from utils_spark.functions import morton_interleave

    z = bucketed.withColumn("morton", morton_interleave("xb", "yb", bits=8))
    return (
        z.groupBy(F.shiftright("morton", 8).cast("int").alias("z_chunk"))
        .agg(
            F.count("*").alias("n_rows"),
            F.min("xb").cast("int").alias("min_xb"),
            F.max("xb").cast("int").alias("max_xb"),
            F.min("yb").cast("int").alias("min_yb"),
            F.max("yb").cast("int").alias("max_yb"),
        )
    )


# --- HyperLogLog with explicit, engine-identical registers ------------------

_HLL_M = 256  # registers (p = 8); standard error 1.04/sqrt(256) = 6.5%
# alpha_m for m >= 128 (Flajolet et al. 2007): 0.7213 / (1 + 1.079/m) — the
# Python float literal is interpolated into BOTH engines, so it is the
# identical double by construction
_HLL_ALPHA = 0.7213 / (1 + 1.079 / 256)
_HLL_WBITS = 30  # rank-word width; rho in [1, 31], exact in double


@register(
    "hll_cardinality_sketch",
    # HyperLogLog (Flajolet, Fusy, Gandouet & Meunier, AofA 2007) with
    # DETERMINISTIC md5 register hashing — both engines build the
    # byte-identical 64-register sketch (register_sum is the checksum),
    # alongside the exact COUNT(DISTINCT) certifying the estimate error.
    # Bit length via binary-string conv/bin — floor(log2()) is NOT
    # engine-stable (Spark's log2(2^29) = 29.000000000000004).
    oracle=f"""
    WITH h AS (
      SELECT l_returnflag AS flag,
             CAST(('0x' || substr(md5('reg:' || CAST(l_partkey AS VARCHAR)), 1, 15)) AS BIGINT)
               % {_HLL_M} AS j,
             CAST(('0x' || substr(md5('rho:' || CAST(l_partkey AS VARCHAR)), 1, 15)) AS BIGINT)
               % {1 << _HLL_WBITS} AS w
      FROM lineitem
    ),
    regs AS (
      SELECT flag, j,
             MAX(CASE WHEN w = 0 THEN {_HLL_WBITS + 1}
                      ELSE {_HLL_WBITS + 1} - length(bin(w)) END) AS m
      FROM h GROUP BY flag, j
    ),
    agg AS (
      SELECT flag,
             SUM(power(2.0, -m)) + ({_HLL_M} - COUNT(*)) AS inv_sum,
             {_HLL_M} - COUNT(*) AS v,
             CAST(SUM(m) AS BIGINT) AS register_sum
      FROM regs GROUP BY flag
    ),
    est AS (
      SELECT flag, register_sum, v,
             CASE WHEN CAST({_HLL_ALPHA} AS DOUBLE) * {_HLL_M * _HLL_M} / inv_sum
                         <= {2.5 * _HLL_M} AND v > 0
                  THEN {_HLL_M} * ln({_HLL_M} * 1.0 / v)
                  ELSE CAST({_HLL_ALPHA} AS DOUBLE) * {_HLL_M * _HLL_M} / inv_sum END AS e
      FROM agg
    ),
    ex AS (
      SELECT l_returnflag AS flag, CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_distinct
      FROM lineitem GROUP BY 1
    )
    SELECT est.flag AS l_returnflag, ex.exact_distinct,
           ROUND(est.e, 4) AS hll_estimate,
           ROUND((est.e - ex.exact_distinct) / ex.exact_distinct, 4) AS rel_error,
           est.register_sum, CAST(est.v AS INT) AS zero_registers
    FROM est JOIN ex ON est.flag = ex.flag
    """,
    tags=("sketch", "scale-path", "llm-pipeline", "hll"),
)
def hll_cardinality_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-count sketch (Flajolet et al. 2007) with
    EXPLICIT registers: per return flag, every l_partkey hashes to one of
    256 registers (md5 'reg:' stream) and contributes rho = leading-zero
    rank of a 30-bit md5 'rho:' word; registers keep max(rho); the
    harmonic-mean estimate (alpha_m * m^2 / sum 2^-M_j, linear-counting
    fallback when E <= 2.5m with empty registers) rides next to the exact
    COUNT(DISTINCT) that certifies its error. Deterministic md5 hashing
    means both engines materialize the byte-identical register array —
    register_sum is the checksum (contrast `approx_sketch_aggs`, which
    certifies Spark's own built-in HLL++ only by error bound, since its
    internal sketch is not reproducible engine-independently).

    Completes the sketch family: Count-Min (frequency), Bloom
    (membership), MinHash (similarity), HLL (cardinality).

    Scale shape: the sketch path never shuffles corpus volume — map-side
    partial max() collapses each task's stream to <= m x n_groups
    register cells before the exchange (the entire point of HLL: distinct
    counting at 100 TB without a key-cardinality shuffle; the exact
    COUNT(DISTINCT) here is the small-SF certificate, not the scale
    path). Rank extraction uses binary-string length (conv/bin), not
    floor(log2()) — Spark's log2 is not exact on powers of two
    (log2(2^29) = 29.000000000000004) and the two engines would disagree."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"), "l_partkey"
    )
    from utils_spark.functions import md5_long

    key = F.col("l_partkey").cast("string")
    j = md5_long(F.concat(F.lit("reg:"), key)) % _HLL_M
    w = md5_long(F.concat(F.lit("rho:"), key)) % (1 << _HLL_WBITS)
    rho = F.when(w == 0, F.lit(_HLL_WBITS + 1)).otherwise(
        F.lit(_HLL_WBITS + 1) - F.length(F.conv(w.cast("string"), 10, 2))
    )
    regs = (
        li.select("flag", j.alias("j"), rho.alias("rho"))
        .groupBy("flag", "j")
        .agg(F.max("rho").alias("m"))
    )
    agg = regs.groupBy("flag").agg(
        (F.sum(F.pow(F.lit(2.0), -F.col("m"))) + (_HLL_M - F.count("*"))).alias("inv_sum"),
        (_HLL_M - F.count("*")).alias("v"),
        F.sum("m").cast("long").alias("register_sum"),
    )
    raw = F.lit(_HLL_ALPHA) * (_HLL_M * _HLL_M) / F.col("inv_sum")
    est = F.when(
        (raw <= 2.5 * _HLL_M) & (F.col("v") > 0),
        F.lit(float(_HLL_M)) * F.log(_HLL_M / F.col("v")),
    ).otherwise(raw)
    ex = li.groupBy("flag").agg(F.count_distinct("l_partkey").cast("long").alias("exact_distinct"))
    return (
        agg.join(ex, "flag")
        .select(
            F.col("flag").alias("l_returnflag"),
            "exact_distinct",
            F.round(est, 4).alias("hll_estimate"),
            F.round((est - F.col("exact_distinct")) / F.col("exact_distinct"), 4).alias(
                "rel_error"
            ),
            "register_sum",
            F.col("v").cast("int").alias("zero_registers"),
        )
    )


@register(
    "partition_skew_audit",
    # Shuffle-key skew audit — the "which key can I safely shuffle on?"
    # question answered from the data BEFORE a 100 TB job is launched:
    # for three candidate partitioning keys (user_id, event_type, day),
    # hash every row into 32 buckets with the engine-portable md5
    # bucketing used across this repo and report per-key bucket-count
    # skew (max/mean). A skew_factor near 1 means the key parallelizes
    # cleanly; event_type's tiny cardinality shows up immediately as
    # bucket starvation (n_buckets_hit << 32) — exactly the diagnosis
    # that predicts a straggler stage. Deterministic bucketing makes
    # both engines build the byte-identical histogram.
    oracle="""
    WITH keys AS (
      SELECT 'user_id' AS key_name, CAST(user_id AS VARCHAR) AS k FROM events
      UNION ALL
      SELECT 'event_type', event_type FROM events
      UNION ALL
      SELECT 'day', CAST(CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS VARCHAR)
      FROM events
    ),
    buckets AS (
      SELECT key_name,
             CAST(('0x' || substr(md5(k), 1, 15)) AS BIGINT) % 32 AS b,
             COUNT(*) AS cnt
      FROM keys GROUP BY 1, 2
    )
    SELECT key_name,
           CAST(COUNT(*) AS BIGINT) AS n_buckets_hit,
           CAST(MAX(cnt) AS BIGINT) AS max_bucket,
           ROUND(AVG(CAST(cnt AS DOUBLE)), 6) AS mean_bucket,
           ROUND(CAST(MAX(cnt) AS DOUBLE) / AVG(CAST(cnt AS DOUBLE)), 6) AS skew_factor
    FROM buckets GROUP BY key_name
    """,
    tags=("scalepath", "skew", "audit"),
)
def partition_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-flight shuffle-key skew audit: hash the corpus into 32
    buckets under each candidate partitioning key and report bucket
    occupancy and max/mean skew — the diagnosis a 100 TB job needs
    BEFORE choosing its shuffle key, because a skewed or low-NDV key
    (event_type here: 5 values can hit at most 5 of 32 buckets)
    produces straggler tasks no matter how many executors are
    provisioned. The sibling runtime remedies live in
    `skew_salted_join` (salting) and the AQE notes; this query is the
    measurement step. Deterministic md5 bucketing (the repo-wide
    convention) makes the histogram engine-portable.

    Scale shape: three map-side key projections unioned (one corpus
    pass), one aggregation onto <= 3 x 32 bucket cells with map-side
    partial agg, then a 3-row summary."""
    e = load_table(spark, sf_dir, "events")
    from utils_spark.functions import md5_long

    keys = (
        e.select(F.lit("user_id").alias("key_name"), F.col("user_id").cast("string").alias("k"))
        .unionAll(e.select(F.lit("event_type"), F.col("event_type")))
        .unionAll(
            e.select(
                F.lit("day"),
                utc_day("ts").cast("string"),
            )
        )
    )
    buckets = keys.select(
        "key_name", F.pmod(md5_long("k"), F.lit(32)).alias("b")
    ).groupBy("key_name", "b").agg(F.count("*").alias("cnt"))
    return buckets.groupBy("key_name").agg(
        F.count("*").cast("long").alias("n_buckets_hit"),
        F.max("cnt").cast("long").alias("max_bucket"),
        F.round(F.avg(F.col("cnt").cast("double")), 6).alias("mean_bucket"),
        F.round(
            F.max("cnt").cast("double") / F.avg(F.col("cnt").cast("double")), 6
        ).alias("skew_factor"),
    )


@register(
    "join_fanout_audit",
    # Join-fanout audit for orders |x| lineitem — the pre-join
    # cardinality estimate a planner-minded engineer computes before
    # shipping a 100 TB join: per-key child counts (LEFT join so
    # childless parents are visible), their mean/max and interpolated
    # p50/p99 (quantile_cont <-> Spark percentile, the flagship's
    # proven convention), and the exact join output size sum(fanout).
    # A heavy max/p99 ratio is the skew-join early warning that says
    # "salt this key" before the straggler stage says it for you.
    oracle="""
    WITH fo AS (
      SELECT o.o_orderkey AS k, COUNT(l.l_orderkey) AS fanout
      FROM orders o LEFT JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      GROUP BY 1
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(fanout) AS BIGINT) AS join_output_rows,
           ROUND(AVG(CAST(fanout AS DOUBLE)), 6) AS mean_fanout,
           CAST(MAX(fanout) AS BIGINT) AS max_fanout,
           ROUND(quantile_cont(fanout, 0.5), 6) AS p50_fanout,
           ROUND(quantile_cont(fanout, 0.99), 6) AS p99_fanout,
           CAST(SUM(CASE WHEN fanout = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_childless
    FROM fo
    """,
    tags=("scalepath", "join", "audit"),
)
def join_fanout_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-join fanout audit of orders |x| lineitem: the exact join
    output cardinality (sum of per-key child counts), the fanout
    distribution (mean/p50/p99/max), and the childless-parent count
    that a LEFT join would preserve — computed BEFORE running the wide
    join, which is how a 100 TB pipeline decides between a plain
    shuffle join, a salted join (`skew_salted_join`) and a broadcast.
    p99 << max is the classic signature of a handful of hot keys.

    Scale shape: one join-keyed aggregation (the probe side collapses
    to per-key counts with map-side partial agg — this audit is
    strictly cheaper than the join it models), then a single bounded
    summary row; the exact percentile is the oracle-checkable form,
    percentile_approx the documented 100 TB switch."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    fo = (
        o.join(li, o.o_orderkey == li.l_orderkey, "left")
        .groupBy("o_orderkey")
        .agg(F.count("l_orderkey").alias("fanout"))
    )
    return fo.agg(
        F.count("*").cast("long").alias("n_keys"),
        F.sum("fanout").cast("long").alias("join_output_rows"),
        F.round(F.avg(F.col("fanout").cast("double")), 6).alias("mean_fanout"),
        F.max("fanout").cast("long").alias("max_fanout"),
        F.round(F.expr("percentile(fanout, 0.5)"), 6).alias("p50_fanout"),
        F.round(F.expr("percentile(fanout, 0.99)"), 6).alias("p99_fanout"),
        F.sum(F.when(F.col("fanout") == 0, 1).otherwise(0)).cast("long").alias("n_childless"),
    )
