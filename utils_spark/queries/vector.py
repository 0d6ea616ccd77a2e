"""Vector / embedding operators over the `embeddings` table: similarity
search (brute-force cosine top-k baseline + LSH-bucketed scale path),
embedding statistics, centroid computation.

The north-star similarity-search surface (BASELINE.json). All dot products
are JVM-side array expressions (zip_with + aggregate) — no Python in the
hot path; float arrays are cast to double once for stable math.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from utils_spark.functions import cosine_similarity, sq_l2, to_double_array
from utils_spark.io import load_table
from utils_spark.operators import similarity
from utils_spark.registry import register

# Fixture embedding dimensionality (TESTDATA.md: embeddings.embedding is
# array<float>[64] at every SF). The Spark queries are dimension-agnostic,
# but the DuckDB oracles must UNROLL per-dim expressions (no array AVG),
# so every generated oracle derives its element list from this ONE
# constant; tests/test_parity.py asserts the fixture actually has this
# dim, so a fixture regeneration can't silently skew only the oracles.
EMB_DIM = 64


@register(
    "embedding_stats",
    oracle="""
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(AVG(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                           CAST(embedding AS DOUBLE[])))), 6) AS avg_norm,
           ROUND(AVG(list_avg(CAST(embedding AS DOUBLE[]))), 6) AS avg_mean_component
    FROM embeddings GROUP BY label
    """,
    tags=("vector", "similarity"),
)
def embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding statistics: L2 norm and mean component, via
    aggregate/zip_with array kernels. Map-side math + one tiny hash agg."""
    e = load_table(spark, sf_dir, "embeddings")
    v = to_double_array("embedding")
    norm = F.sqrt(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x))
    mean_comp = F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x) / F.size(v)
    return e.groupBy("label").agg(
        F.count("*").alias("n"),
        F.round(F.avg(norm), 6).alias("avg_norm"),
        F.round(F.avg(mean_comp), 6).alias("avg_mean_component"),
    )


@register(
    "cosine_topk",
    oracle="""
    WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10),
    sims AS (
      SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id, e.label AS neighbor_label,
             ROUND(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))
                   / (sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))
                      * sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))),
                   6) AS cosine
      FROM q JOIN embeddings e ON e.vec_id <> q.vec_id
    )
    SELECT query_id, neighbor_id, neighbor_label, cosine
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cosine DESC, neighbor_id) AS rn
          FROM sims)
    WHERE rn <= 5
    """,
    tags=("vector", "similarity", "ann", "bench"),
)
def cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 neighbors for a query set (vec_id < 10) —
    the exact-answer ANN baseline.

    Scale: the QUERY side broadcasts (queries are small by definition);
    the corpus side streams partition-parallel — a 100 TB corpus never
    shuffles for scoring. Top-k is `similarity.topk_per_key` by
    (cosine desc, id asc), partial top-k map-side. Cosine is rounded to
    6dp before ranking so ordering is engine-stable. The operator is
    `similarity.cosine_topk`, carrying the neighbor's label."""
    e = load_table(spark, sf_dir, "embeddings")
    return similarity.cosine_topk(
        e.filter(F.col("vec_id") < 10),
        e.withColumnRenamed("label", "neighbor_label"),
        "vec_id",
        "vec_id",
        k=5,
        carry=("neighbor_label",),
    )


@register(
    "label_centroids",
    oracle="""
    SELECT label, CAST(d.dim AS INT) AS dim,
           ROUND(AVG(CAST(embedding[d.dim] AS DOUBLE)), 6) AS centroid_x
    FROM embeddings, (SELECT unnest(range(1, 5)) AS dim) d
    GROUP BY label, d.dim
    """,
    tags=("vector", "similarity", "M12-centroid"),
)
def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroids (first 4 dims reported) — the centroid step of
    cluster-based trajectory/MST operators (reference M12:
    R/slingshot.R:8-55 cluster-centroid MST) and of IVF index building.

    Spark path: posexplode + groupBy(label, dim) — partial aggregation
    makes this one bounded shuffle of (label × dim) keys."""
    e = load_table(spark, sf_dir, "embeddings")
    comp = e.select(
        "label", F.posexplode(to_double_array("embedding")).alias("pos", "x")
    ).withColumn("dim", (F.col("pos") + 1).cast("int")).filter(F.col("dim") <= 4)
    return comp.groupBy("label", "dim").agg(F.round(F.avg("x"), 6).alias("centroid_x"))


_IVF_ORACLE = """
    WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    cent AS (SELECT label, [{cent_elems}] AS c FROM v GROUP BY label),
    q AS (SELECT vec_id AS query_id, e AS qv FROM v WHERE vec_id < 10),
    routed AS (
      SELECT query_id, qv, label AS probed_label,
             row_number() OVER (PARTITION BY query_id ORDER BY
               ROUND(list_dot_product(qv, c)
                     / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(c, c))), 6) DESC,
               label) AS rn
      FROM q CROSS JOIN cent
    ),
    r1 AS (SELECT query_id, qv, probed_label FROM routed WHERE rn = 1),
    sims AS (
      SELECT r.query_id, v.vec_id AS neighbor_id, r.probed_label,
             ROUND(list_dot_product(r.qv, v.e)
                   / (sqrt(list_dot_product(r.qv, r.qv)) * sqrt(list_dot_product(v.e, v.e))), 6)
               AS cosine
      FROM r1 r JOIN v ON v.label = r.probed_label AND v.vec_id <> r.query_id
    )
    SELECT query_id, neighbor_id, probed_label, cosine
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cosine DESC, neighbor_id) AS rn FROM sims)
    WHERE rn <= 5
"""


@register(
    "ann_ivf_bucketed",
    # FULLY ORACLED: DuckDB rebuilds 64-dim centroids (generated SQL),
    # routes queries by rounded centroid-cosine argmax, and searches the
    # probed bucket — exact cross-engine check of the IVF path
    oracle=_IVF_ORACLE.format(
        cent_elems=", ".join(f"AVG(e[{d}])" for d in range(1, EMB_DIM + 1))
    ),
    tags=("vector", "similarity", "ann", "ivf"),
)
def ann_ivf_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style approximate nearest neighbors: assign every vector to its
    nearest label-centroid (the coarse quantizer), then search only within
    the query's probe bucket — the scale path for ANN over 100 TB, where
    brute force is O(corpus) per query but IVF is O(corpus/n_buckets).

    Here the existing `label` partitioning doubles as the IVF cell: we
    (1) compute exact centroids per label, (2) route queries to their
    nearest centroid, (3) top-5 within the routed bucket only. Returns
    (query_id, neighbor_id, cosine, probed_label)."""
    e = load_table(spark, sf_dir, "embeddings")
    vecs = e.select("vec_id", "label", to_double_array("embedding").alias("v"))
    cent = similarity.mean_vectors(vecs, "label", "v")  # (1)
    # (2) route queries (vec_id < 10) to nearest centroid by cosine
    q = vecs.filter(F.col("vec_id") < 10).select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv"))
    routed = _ivf_route(q, cent).filter(F.col("route_rank") == 1).drop("route_rank", "csim")
    # (3) search only the probed bucket
    sims = (
        routed.join(vecs, (vecs.label == routed.probed_label) & (vecs.vec_id != routed.query_id))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "probed_label",
            F.round(cosine_similarity(F.col("qv"), F.col("v")), 6).alias("cosine"),
        )
    )
    wtop = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return sims.withColumn("rn", F.row_number().over(wtop)).filter(F.col("rn") <= 5).drop("rn")


def _ivf_route(q: DataFrame, cent: DataFrame) -> DataFrame:
    """Rank every IVF cell for every query: (query_id, qv, probed_label,
    csim, route_rank), route_rank 1 = the centroid of highest cosine
    (rounded to 6dp before the ranking so routing is engine-stable; ties
    by label). Queries (query_id, qv) and centroids (label, centroid)
    both broadcast — the routing table is queries x cells."""
    w = Window.partitionBy("query_id").orderBy(F.desc("csim"), F.asc("probed_label"))
    return (
        F.broadcast(q)
        .crossJoin(F.broadcast(cent))
        .select(
            "query_id",
            "qv",
            F.col("label").alias("probed_label"),
            F.round(cosine_similarity(F.col("qv"), F.col("centroid")), 6).alias("csim"),
        )
        .withColumn("route_rank", F.row_number().over(w))
    )


def perturbed_copies(seed: DataFrame, offset: int, scale: float) -> DataFrame:
    """Deterministic perturbed copies of (vec_id, v) rows for planting
    near-duplicates: v'_i = v_i + scale·(((vec_id·31 + i·17) mod 13) − 6),
    new id = vec_id + offset. Pure integer+double arithmetic an SQL oracle
    reproduces bit-exactly. The new id is aliased in a SEPARATE select:
    naming it `vec_id` in the same projection would let Spark's
    lateral-column-alias resolution bind the lambda's vec_id to the OFFSET
    id (DuckDB binds the original) — the planted deltas then silently stop
    being parallel across scales."""
    return seed.select(
        (F.col("vec_id") + offset).alias("new_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(EMB_DIM)),
            lambda i: F.element_at(F.col("v"), i)
            + F.lit(scale) * (((F.col("vec_id") * 31 + i * 17) % 13) - 6),
        ).alias("v"),
    ).select(F.col("new_id").alias("vec_id"), "v")


@register(
    "semantic_dedup_keep",
    # SemDeDup-style end-to-end semantic dedup with a canonical-keep
    # policy. The corpus has no natural cosine-0.95 near-dups (max pair
    # cosine ~0.6), so 20 duplicate CHAINS are planted with engine-exact
    # arithmetic: for vec_id < 20, B = A + d and C = A + 2d with
    # d_i = 0.008·(((vec_id·31 + i·17) mod 13) − 6). |d| ≈ 0.24 against
    # unit-norm vectors ⇒ cos(A,B) ≈ cos(B,C) ≈ 0.97 (in-cluster edges)
    # while cos(A,C) ≈ 0.90 < 0.95 — so each cluster is a PATH, not a
    # clique, and min-label propagation must actually iterate. The oracle
    # recomputes pairs BRUTE FORCE and clusters by RECURSIVE-CTE
    # reachability, cross-checking LSH recall AND the distributed CC.
    oracle="""
    WITH RECURSIVE v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ),
    planted AS (
      SELECT v.vec_id + 1000000 AS vec_id,
             list_transform(range(1, 65),
                            i -> v.e[i] + 0.008 * (((v.vec_id * 31 + i * 17) % 13) - 6)) AS e
      FROM v WHERE v.vec_id < 20
      UNION ALL
      SELECT v.vec_id + 2000000 AS vec_id,
             list_transform(range(1, 65),
                            i -> v.e[i] + 0.016 * (((v.vec_id * 31 + i * 17) % 13) - 6)) AS e
      FROM v WHERE v.vec_id < 20
    ),
    aug AS (SELECT * FROM v UNION ALL SELECT * FROM planted),
    pairs AS (
      SELECT a.vec_id AS pa, b.vec_id AS pb
      FROM aug a JOIN aug b ON a.vec_id < b.vec_id
      WHERE list_dot_product(a.e, b.e)
            / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))) >= 0.95
    ),
    edges AS (
      SELECT pa AS src, pb AS dst FROM pairs
      UNION SELECT pb AS src, pa AS dst FROM pairs
    ),
    reach(node, via) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.dst, r.via FROM reach r JOIN edges e ON e.src = r.node
    )
    SELECT CAST(node AS BIGINT) AS vec_id,
           CAST(MIN(via) AS BIGINT) AS cluster_rep,
           CASE WHEN node = MIN(via) THEN 1 ELSE 0 END AS is_kept
    FROM reach GROUP BY node
    """,
    tags=("vector", "dedup", "semantic-dedup", "connected-components"),
)
def semantic_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic deduplication with a keep policy (the SemDeDup recipe:
    drop all-but-one of every group of embedding-near-duplicate docs):
    hyperplane-LSH candidate pairs → exact-cosine (≥ 0.95) verification on
    candidates only → connected components → keep the minimum vec_id per
    cluster. Vectors with no near-duplicate are trivially kept and not
    emitted. Because the corpus has no natural cosine-0.95 pairs, 20
    three-vector duplicate chains (A—B—C with A—C below threshold) are
    planted deterministically, so the output certifies LSH recall, exact
    verification, multi-round label propagation, AND the keep rule — the
    expected result is 60 rows: each chain collapses to cluster_rep =
    A.vec_id with exactly A kept.

    Scale shape: identical to `embedding_near_dup` (banded equi-join,
    never all-pairs; 32 bands push per-pair miss probability below 2e-8 —
    ~2e-11 at the planted cosine 0.97) plus `duplicate_clusters`'
    min-label propagation, whose per-round cost is one edge-keyed shuffle
    and whose round count is cluster diameter (the planted paths force
    ≥ 2 rounds). The keep flag is a comparison against the component
    label — no extra pass."""
    from utils_spark.operators.dedup import duplicate_clusters
    from utils_spark.operators.similarity import lsh_near_dup_pairs

    e = load_table(spark, sf_dir, "embeddings")
    v = e.select("vec_id", to_double_array("embedding").alias("v"))
    seed = v.filter(F.col("vec_id") < 20)

    aug = v.unionAll(perturbed_copies(seed, 1000000, 0.008)).unionAll(
        perturbed_copies(seed, 2000000, 0.016)
    )
    pairs = lsh_near_dup_pairs(aug, "vec_id", "v", threshold=0.95, bands=32, dim=64)
    cc = duplicate_clusters(pairs, "key_a", "key_b")
    return cc.select(
        F.col("key").cast("long").alias("vec_id"),
        F.col("component").cast("long").alias("cluster_rep"),
        F.when(F.col("key") == F.col("component"), 1).otherwise(0).alias("is_kept"),
    )


@register(
    "hard_negative_mining",
    # contrastive-training data construction: for each anchor, the top-3
    # most-similar embeddings with a DIFFERENT label — the hard negatives
    # a contrastive/retrieval trainer pairs with each anchor. Same
    # deterministic (6dp cosine desc, id asc) ranking as cosine_topk.
    oracle="""
    WITH q AS (SELECT vec_id, embedding, label FROM embeddings WHERE vec_id < 100),
    sims AS (
      SELECT q.vec_id AS anchor_id, q.label AS anchor_label,
             e.vec_id AS negative_id, e.label AS negative_label,
             ROUND(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))
                   / (sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))
                      * sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))),
                   6) AS cosine
      FROM q JOIN embeddings e ON e.vec_id <> q.vec_id AND e.label <> q.label
    )
    SELECT anchor_id, anchor_label, negative_id, negative_label, cosine
    FROM (SELECT *, row_number() OVER (PARTITION BY anchor_id
                                       ORDER BY cosine DESC, negative_id) AS rn
          FROM sims)
    WHERE rn <= 3
    """,
    tags=("vector", "similarity", "llm-pipeline", "contrastive", "hard-negatives"),
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training data (the retrieval/
    embedding-model recipe, e.g. DPR/Contriever-style: pair each anchor
    with the most similar items of a DIFFERENT class): top-3
    cross-label cosine neighbors per anchor (anchors bounded to
    vec_id < 100 for the brute-force oracle; the Spark side is the
    production shape at any anchor count).

    Scale shape: `similarity.cosine_topk` with the label-exclusion
    condition — anchors broadcast, the corpus streams partition-parallel
    (never shuffled for scoring), partial top-k map-side, so no task
    ever sorts the whole corpus for one anchor. Label attach: the anchor
    table is bounded, so BOTH label joins broadcast the anchors-×-k `pairs`
    side; the corpus-cardinality (vec_id, label) projection is NEVER the
    build side of a broadcast (r6 verdict fix — at 10^9 vectors a corpus
    broadcast is a multi-GB executor copy; plan-contract-pinned in
    tests/test_plans.py)."""
    e = load_table(spark, sf_dir, "embeddings")
    anchors = e.filter(F.col("vec_id") < 100)
    pairs = similarity.cosine_topk(
        anchors,
        e,
        "vec_id",
        "vec_id",
        vec_col="embedding",
        k=3,
        query_label="label",
        corpus_label="label",
    )
    alab = anchors.select(F.col("vec_id").alias("query_id"), F.col("label").alias("anchor_label"))
    nlab = e.select(F.col("vec_id").alias("neighbor_id"), F.col("label").alias("negative_label"))
    labeled_pairs = F.broadcast(pairs.join(F.broadcast(alab), "query_id"))
    return (
        labeled_pairs.join(nlab, "neighbor_id")
        .select(
            F.col("query_id").alias("anchor_id"),
            "anchor_label",
            F.col("neighbor_id").alias("negative_id"),
            "negative_label",
            "cosine",
        )
    )


# --- IVF-PQ (product quantization) -----------------------------------------

_PQ_M = 8  # subspaces
_PQ_SUBDIM = 8  # dims per subspace (8 x 8 = the EMB_DIM=64 embedding)
_PQ_K = 16  # codes per subspace codebook
_PQ_TRAIN_LIMIT = 512  # deterministic training sample: vec_id < 512
_PQ_ROUNDS = 2  # Lloyd iterations


def _pq_sq_dist_sql(sub: str, cent: str) -> str:
    return (
        f"ROUND(list_sum(list_transform(range(1, {_PQ_SUBDIM + 1}), "
        f"i -> ({sub}[i] - {cent}[i]) * ({sub}[i] - {cent}[i]))), 6)"
    )


def _pq_oracle() -> str:
    """Generated SQL twin of ``ann_ivf_pq``: replays codebook training
    (deterministic init + 2 Lloyd rounds), corpus PQ-encoding, and the
    asymmetric-distance top-5 — the full pipeline recomputed
    independently, which is stronger than shipping literal codebooks."""
    parts = [
        f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    subs AS (
      SELECT vec_id, j,
             list_transform(range(1, {_PQ_SUBDIM + 1}),
                            i -> e[(j - 1) * {_PQ_SUBDIM} + i]) AS sub
      FROM v CROSS JOIN (SELECT unnest(range(1, {_PQ_M + 1})) AS j) js
    ),
    cent0 AS (
      SELECT j,
             CAST(row_number() OVER (PARTITION BY j ORDER BY vec_id) - 1 AS INT) AS code,
             sub AS cent
      FROM subs WHERE vec_id < {_PQ_TRAIN_LIMIT}
      QUALIFY row_number() OVER (PARTITION BY j ORDER BY vec_id) <= {_PQ_K}
    )"""
    ]
    avg_elems = ", ".join(f"ROUND(AVG(sub[{d}]), 6)" for d in range(1, _PQ_SUBDIM + 1))
    for r in range(1, _PQ_ROUNDS + 1):
        parts.append(f"""
    assign{r} AS (
      SELECT s.vec_id, s.j, s.sub, c.code,
             row_number() OVER (PARTITION BY s.vec_id, s.j
               ORDER BY {_pq_sq_dist_sql("s.sub", "c.cent")}, c.code) AS rn
      FROM (SELECT * FROM subs WHERE vec_id < {_PQ_TRAIN_LIMIT}) s
           JOIN cent{r - 1} c USING (j)
    ),
    cent{r} AS (
      SELECT j, code, [{avg_elems}] AS cent
      FROM assign{r} WHERE rn = 1 GROUP BY j, code
    )""")
    parts.append(f"""
    enc AS (
      SELECT s.vec_id, s.j, c.code,
             row_number() OVER (PARTITION BY s.vec_id, s.j
               ORDER BY {_pq_sq_dist_sql("s.sub", "c.cent")}, c.code) AS rn
      FROM subs s JOIN cent{_PQ_ROUNDS} c USING (j)
    ),
    codes AS (SELECT vec_id, j, code FROM enc WHERE rn = 1),
    qdt AS (
      SELECT s.vec_id AS query_id, c.j, c.code,
             {_pq_sq_dist_sql("s.sub", "c.cent")} AS d
      FROM (SELECT * FROM subs WHERE vec_id < 10) s
           JOIN cent{_PQ_ROUNDS} c USING (j)
    ),
    scored AS (
      SELECT t.query_id, k.vec_id AS neighbor_id, ROUND(SUM(t.d), 6) AS adc_dist
      FROM codes k JOIN qdt t
        ON t.j = k.j AND t.code = k.code AND k.vec_id <> t.query_id
      GROUP BY 1, 2
    )
    SELECT CAST(query_id AS BIGINT) AS query_id,
           CAST(neighbor_id AS BIGINT) AS neighbor_id,
           adc_dist
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY adc_dist, neighbor_id) AS rn
          FROM scored)
    WHERE rn <= 5""")
    return ",".join(parts)


def pq_codebook(vecs: DataFrame) -> DataFrame:
    """Train the per-subspace product-quantization codebooks (Jégou,
    Douze & Schmid 2011, "Product quantization for nearest neighbor
    search"): split each 64-dim vector into 8 contiguous 8-dim
    subvectors; per subspace, k-means with k=16 — deterministic init
    (the 16 smallest-vec_id training subvectors) + 2 Lloyd rounds, all
    distances/centroids rounded to 6dp so the assignment argmax is
    engine-stable. Training reads only the bounded vec_id < 512 sample
    (the published recipe trains codebooks on a corpus sample); every
    step is a bounded-key aggregation, nothing corpus-sized shuffles.

    Input: (vec_id, v: array<double>[64]). Returns (j, code, cent)."""
    train = _pq_subs(vecs).filter(F.col("vec_id") < _PQ_TRAIN_LIMIT)
    winit = Window.partitionBy("j").orderBy("vec_id")
    cent = (
        train.withColumn("rn", F.row_number().over(winit))
        .filter(F.col("rn") <= _PQ_K)
        .select("j", (F.col("rn") - 1).cast("int").alias("code"), F.col("sub").alias("cent"))
    )
    for _round in range(_PQ_ROUNDS):
        assigned = train.join(F.broadcast(cent), "j").withColumn(
            "dist", F.round(sq_l2(F.col("sub"), F.col("cent")), 6)
        )
        # min(struct(dist, code)) == row_number over (dist asc, code asc):
        # lexicographic struct ordering is the deterministic tie-break
        best = (
            assigned.groupBy("vec_id", "j")
            .agg(F.min(F.struct("dist", "code")).alias("m"), F.first("sub").alias("sub"))
            .select("j", F.col("m.code").alias("code"), "sub")
        )
        cent = similarity.mean_vectors(best, ["j", "code"], "sub", round_digits=6).withColumnRenamed(
            "centroid", "cent"
        )
    return cent


def _pq_subs(vecs: DataFrame, *extra_cols: str) -> DataFrame:
    """(key cols, v[64]) → one row per (vector, subspace): (key cols, j,
    sub[8]). ``extra_cols`` are carried through unchanged (e.g. the IVF
    cell label, so encode never needs a corpus-sized join-back)."""
    subarrays = F.transform(
        F.sequence(F.lit(1), F.lit(_PQ_M)),
        lambda j: F.transform(
            F.sequence(F.lit(1), F.lit(_PQ_SUBDIM)),
            lambda i: F.element_at(F.col("v"), ((j - 1) * _PQ_SUBDIM + i).cast("int")),
        ),
    )
    keys = ["vec_id", *extra_cols]
    return (
        vecs.select(*keys, F.posexplode(subarrays).alias("pos", "sub"))
        .select(*keys, (F.col("pos") + 1).alias("j"), "sub")
    )


def _pq_encode(subs: DataFrame, cb: DataFrame, *extra_cols: str) -> DataFrame:
    """PQ-encode (vec_id, extra cols, j, sub) rows against the codebook
    ``cb`` (j, code, cent): per (vector, subspace) the argmin code over
    the 16 broadcast centroids (6dp-rounded distance; min(struct(dist,
    code)) breaks ties by lowest code), then the per-vector 8-code array
    (vec_id, extra cols, codes). The index build: two bounded-key
    shuffles, ``extra_cols`` carried so nothing joins back."""
    keys = ["vec_id", *extra_cols]
    enc = subs.join(F.broadcast(cb), "j").withColumn(
        "dist", F.round(sq_l2(F.col("sub"), F.col("cent")), 6)
    )
    codes_long = (
        enc.groupBy(*keys, "j")
        .agg(F.min(F.struct("dist", "code")).alias("m"))
        .select(*keys, "j", F.col("m.code").alias("code"))
    )
    return (
        codes_long.groupBy(*keys)
        .agg(F.array_sort(F.collect_list(F.struct("j", "code"))).alias("jc"))
        .select(*keys, F.transform("jc", lambda s: s["code"]).alias("codes"))
    )


def _pq_adc_tables(qsubs: DataFrame, cb: DataFrame, query_id, *extra_cols: str) -> DataFrame:
    """Per-query ADC distance tables: (query_id, extra cols, qdtab), where
    qdtab is the query's 8x16 table of 6dp subvector-to-centroid squared
    distances densified to 128 O(1) slots — slot (j-1)*16 + code.
    ``query_id`` is the Column (named query_id) identifying a query row of
    ``qsubs``; ``extra_cols`` (e.g. the probed cell) key the table too."""
    qdt = qsubs.join(F.broadcast(cb), "j").select(
        query_id,
        *extra_cols,
        ((F.col("j") - 1) * _PQ_K + F.col("code")).cast("int").alias("slot"),
        F.round(sq_l2(F.col("sub"), F.col("cent")), 6).alias("d"),
    )
    return (
        qdt.groupBy("query_id", *extra_cols)
        .agg(F.map_from_entries(F.collect_list(F.struct("slot", "d"))).alias("qm"))
        .select(
            "query_id",
            *extra_cols,
            F.transform(
                F.sequence(F.lit(0), F.lit(_PQ_M * _PQ_K - 1)),
                lambda idx: F.element_at(F.col("qm"), idx.cast("int")),
            ).alias("qdtab"),
        )
    )


def _pq_adc_dist():
    """6dp asymmetric distance of a row's ``codes`` under its query's
    ``qdtab``: one O(1) table lookup per subspace, summed."""
    return F.round(
        F.aggregate(
            F.sequence(F.lit(1), F.lit(_PQ_M)),
            F.lit(0.0),
            lambda acc, j: acc
            + F.element_at(
                F.col("qdtab"),
                ((j - 1) * _PQ_K + 1).cast("int") + F.element_at(F.col("codes"), j.cast("int")),
            ),
        ),
        6,
    )


@register(
    "ann_ivf_pq",
    # IVF-PQ quantized ANN (VERDICT r6 item 4): per-subspace k-means
    # codebooks (deterministic init + 2 Lloyd rounds on the bounded
    # training sample), map-only PQ corpus encoding, asymmetric-distance
    # top-5. The oracle replays the ENTIRE pipeline (training included)
    # in generated SQL — cross-engine hash-exact.
    oracle=_pq_oracle(),
    tags=("vector", "similarity", "ann", "ivf", "pq", "llm-pipeline"),
)
def ann_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (Jégou et al. 2011): the published memory
    shape for billion-scale similarity search — the scoring join touches
    only 8-byte PQ codes, never the full float vectors. Pipeline:

    1. ``pq_codebook``: 8 subspaces x 16 codes, deterministic-init
       k-means (2 Lloyd rounds) on the bounded vec_id < 512 sample.
    2. Encode the corpus: per (vector, subspace) argmin over the 16
       broadcast centroids (6dp-rounded distance, code tie-break), then
       assemble the 8-code array per vector. At 100 TB this is the
       one-time INDEX BUILD (codes persisted next to the data);
       per-query work never touches it again.
    3. Asymmetric distance (ADC): each query precomputes its 8x16
       distance table ONCE, densified to a 128-slot array; scoring is a
       broadcast-queries nested loop over the code arrays with O(1)
       table lookups per subspace — map-only over the corpus, zero
       corpus shuffle, exactly `cosine_topk`'s scale shape but with
       ~64x less data per row (8 codes vs 64 floats).
    4. Top-5 (adc asc, neighbor_id asc) by `similarity.topk_per_key`,
       partial top-5 map-side, so no task ever sorts the whole corpus
       for one query.

    Recall vs the exact-L2 top-5 is certified in
    tests/test_operators.py::test_ann_ivf_pq_recall."""
    e = load_table(spark, sf_dir, "embeddings")
    v = e.select("vec_id", to_double_array("embedding").alias("v"))
    from utils_spark.plans import cut_lineage

    cent = cut_lineage(pq_codebook(v))  # <=128 rows, reused by encode + ADC
    subs = _pq_subs(v)
    codes = _pq_encode(subs, cent)  # (2) corpus encode (index build)
    # (3) per-query distance tables, densified to 128 O(1) slots
    qrows = _pq_adc_tables(subs.filter(F.col("vec_id") < 10), cent, F.col("vec_id").alias("query_id"))
    scored = (
        F.broadcast(qrows)
        .crossJoin(codes)
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), _pq_adc_dist().alias("adc_dist"))
    )
    order = (F.asc("adc_dist"), F.asc("neighbor_id"))
    return similarity.topk_per_key(scored, "query_id", order, 5)


_IVFADC_NPROBE = 2  # coarse cells probed per query


def _ivfadc_oracle() -> str:
    """Generated SQL twin of ``ann_ivfadc``: coarse label-centroid
    quantizer, RESIDUAL PQ codebook training (deterministic init + 2
    Lloyd rounds on the bounded sample's residuals), residual corpus
    encoding, query routing to the 2 nearest coarse cells by L2, then
    per-(query, cell) residual distance tables and ADC top-5 over the
    probed cells only — the full IVFADC pipeline replayed independently."""
    cent_elems = ", ".join(f"ROUND(AVG(e[{d}]), 6)" for d in range(1, EMB_DIM + 1))
    avg_elems = ", ".join(f"ROUND(AVG(sub[{d}]), 6)" for d in range(1, _PQ_SUBDIM + 1))
    parts = [
        f"""
    WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    coarse AS (SELECT label, [{cent_elems}] AS c FROM v GROUP BY label),
    res AS (
      SELECT v.vec_id, v.label,
             list_transform(range(1, 65), i -> v.e[i] - co.c[i]) AS e
      FROM v JOIN coarse co USING (label)
    ),
    subs AS (
      SELECT vec_id, label, j,
             list_transform(range(1, {_PQ_SUBDIM + 1}),
                            i -> e[(j - 1) * {_PQ_SUBDIM} + i]) AS sub
      FROM res CROSS JOIN (SELECT unnest(range(1, {_PQ_M + 1})) AS j) js
    ),
    cent0 AS (
      SELECT j,
             CAST(row_number() OVER (PARTITION BY j ORDER BY vec_id) - 1 AS INT) AS code,
             sub AS cent
      FROM subs WHERE vec_id < {_PQ_TRAIN_LIMIT}
      QUALIFY row_number() OVER (PARTITION BY j ORDER BY vec_id) <= {_PQ_K}
    )"""
    ]
    for r in range(1, _PQ_ROUNDS + 1):
        parts.append(f"""
    assign{r} AS (
      SELECT s.vec_id, s.j, s.sub, c.code,
             row_number() OVER (PARTITION BY s.vec_id, s.j
               ORDER BY {_pq_sq_dist_sql("s.sub", "c.cent")}, c.code) AS rn
      FROM (SELECT * FROM subs WHERE vec_id < {_PQ_TRAIN_LIMIT}) s
           JOIN cent{r - 1} c USING (j)
    ),
    cent{r} AS (
      SELECT j, code, [{avg_elems}] AS cent
      FROM assign{r} WHERE rn = 1 GROUP BY j, code
    )""")
    parts.append(f"""
    enc AS (
      SELECT s.vec_id, s.label, s.j, c.code,
             row_number() OVER (PARTITION BY s.vec_id, s.j
               ORDER BY {_pq_sq_dist_sql("s.sub", "c.cent")}, c.code) AS rn
      FROM subs s JOIN cent{_PQ_ROUNDS} c USING (j)
    ),
    codes AS (SELECT vec_id, label, j, code FROM enc WHERE rn = 1),
    qv AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < 10),
    routed AS (
      SELECT query_id, qe, label AS probed_label, c,
             row_number() OVER (PARTITION BY query_id ORDER BY
               ROUND(list_sum(list_transform(range(1, 65),
                     i -> (qe[i] - c[i]) * (qe[i] - c[i]))), 6), label) AS rn
      FROM qv CROSS JOIN coarse
    ),
    probes AS (
      SELECT query_id, probed_label,
             list_transform(range(1, 65), i -> qe[i] - c[i]) AS re
      FROM routed WHERE rn <= {_IVFADC_NPROBE}
    ),
    qsubs AS (
      SELECT query_id, probed_label, j,
             list_transform(range(1, {_PQ_SUBDIM + 1}),
                            i -> re[(j - 1) * {_PQ_SUBDIM} + i]) AS sub
      FROM probes CROSS JOIN (SELECT unnest(range(1, {_PQ_M + 1})) AS j) js
    ),
    qdt AS (
      SELECT s.query_id, s.probed_label, c.j, c.code,
             {_pq_sq_dist_sql("s.sub", "c.cent")} AS d
      FROM qsubs s JOIN cent{_PQ_ROUNDS} c USING (j)
    ),
    scored AS (
      SELECT t.query_id, k.vec_id AS neighbor_id, k.label AS probed_label,
             ROUND(SUM(t.d), 6) AS adc_dist
      FROM codes k JOIN qdt t
        ON t.probed_label = k.label AND t.j = k.j AND t.code = k.code
           AND k.vec_id <> t.query_id
      GROUP BY 1, 2, 3
    )
    SELECT CAST(query_id AS BIGINT) AS query_id,
           CAST(neighbor_id AS BIGINT) AS neighbor_id,
           probed_label, adc_dist
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY adc_dist, neighbor_id) AS rn
          FROM scored)
    WHERE rn <= 5""")
    return ",".join(parts)


@register(
    "ann_ivfadc",
    # TRUE IVFADC (Jégou et al. 2011 §IV): coarse quantizer + RESIDUAL
    # product quantization + nprobe=2 cell-restricted ADC scoring — the
    # published billion-scale recipe (FAISS's IVFx,PQy index family).
    # The oracle replays the entire pipeline (coarse centroids, residual
    # codebook training, encoding, routing, scoring) in generated SQL.
    oracle=_ivfadc_oracle(),
    tags=("vector", "similarity", "ann", "ivf", "pq", "llm-pipeline"),
)
def ann_ivfadc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC — inverted file + asymmetric distance computation (Jégou
    et al. 2011): the composition `ann_ivf_bucketed` (coarse routing)
    x `ann_ivf_pq` (PQ codes), which is THE published structure for
    billion-scale ANN. Differences from the two building blocks:

    - PQ codebooks are trained on and encode RESIDUALS v − c(cell), not
      raw vectors — residuals are smaller in norm, so the same 8x4-bit
      budget quantizes finer (the paper's §IV argument).
    - Queries probe their ``_IVFADC_NPROBE`` = 2 nearest coarse cells
      (L2 on the rounded centroids) and score ONLY those cells' codes:
      per-query work is O(corpus/n_cells x nprobe), not O(corpus).

    Scale shape: coarse centroids (n_labels x 64) and codebooks (128
    rows) broadcast; residual computation + encoding are map-only over
    the corpus (label carried through ``_pq_subs``, never a corpus-sized
    join-back); the scoring join streams the code table against the
    broadcast (query, cell) distance-table rows with a label equi-join —
    non-probed cells drop at the join, zero corpus shuffle on the query
    path. The two bounded groupBys (per-vector code assembly) are the
    one-time index build, persisted next to the data at 100 TB.

    Recall vs exact in-probe L2 and routing quality are certified in
    tests/test_operators.py::test_ann_ivfadc_recall."""
    e = load_table(spark, sf_dir, "embeddings")
    vecs = e.select("vec_id", "label", to_double_array("embedding").alias("v"))
    from utils_spark.plans import cut_lineage

    # coarse quantizer: per-label centroids, 6dp-rounded per component so
    # residuals and routing argmins are engine-stable (= oracle's coarse)
    coarse = similarity.mean_vectors(vecs, "label", "v", round_digits=6).withColumnRenamed("centroid", "c")
    coarse = cut_lineage(coarse)  # one row per label, reused 3x
    res = vecs.join(F.broadcast(coarse), "label").select(
        "vec_id", "label", F.zip_with("v", "c", lambda x, y: x - y).alias("v")
    )
    cb = cut_lineage(pq_codebook(res.select("vec_id", "v")))  # <=128 rows
    # index build: residual PQ codes per vector, cell label carried through
    codes = _pq_encode(_pq_subs(res, "label"), cb, "label")
    # query routing: nprobe nearest coarse cells by L2, residual per cell
    q = vecs.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    routed = (
        F.broadcast(q)
        .crossJoin(F.broadcast(coarse))
        .withColumn("rdist", F.round(sq_l2(F.col("qv"), F.col("c")), 6))
    )
    wroute = Window.partitionBy("query_id").orderBy(F.asc("rdist"), F.asc("label"))
    probes = (
        routed.withColumn("rn", F.row_number().over(wroute))
        .filter(F.col("rn") <= _IVFADC_NPROBE)
        .select(
            "query_id",
            F.col("label").alias("probed_label"),
            F.zip_with("qv", "c", lambda x, y: x - y).alias("v"),
        )
    )
    # per-(query, probed cell) ADC table, densified to 128 O(1) slots
    qsubs = _pq_subs(
        probes.withColumnRenamed("query_id", "vec_id"), "probed_label"
    ).withColumnRenamed("vec_id", "query_id")
    qrows = _pq_adc_tables(qsubs, cb, F.col("query_id"), "probed_label")
    scored = (
        F.broadcast(qrows)
        .join(codes, F.col("label") == F.col("probed_label"))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "probed_label",
            _pq_adc_dist().alias("adc_dist"),
        )
    )
    order = (F.asc("adc_dist"), F.asc("neighbor_id"))
    return similarity.topk_per_key(scored, "query_id", order, 5)


@register(
    "embedding_int8_quantization",
    # Per-dimension scalar int8 quantization of the embedding table —
    # the standard memory shape for billion-vector ANN serving (4x
    # smaller than float32; the scalar-quantizer baseline every vector
    # DB ships alongside PQ): per-dim [min, max] over the corpus, 255
    # uniform steps, code = round((x - min)/scale), reconstruction
    # x_hat = code*scale + min. Emits per-dim scale, reconstruction
    # MSE (x1e9) and max |error| (x1e6), plus the half-step bound
    # certificate max|err| <= scale/2 — quantization's defining
    # guarantee, checked per dimension in-query.
    oracle="""
    WITH flat AS (
      SELECT vec_id, d.i AS dim, CAST(embedding[d.i] AS DOUBLE) AS x
      FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS d(i)
    ),
    rng AS (
      SELECT dim, MIN(x) AS mn, MAX(x) AS mx, (MAX(x) - MIN(x)) / 255.0 AS scale
      FROM flat GROUP BY dim
    ),
    err AS (
      SELECT f.dim, r.scale,
             CASE WHEN r.scale > 0
                  THEN f.x - (ROUND((f.x - r.mn) / r.scale) * r.scale + r.mn)
                  ELSE 0.0 END AS e
      FROM flat f JOIN rng r ON f.dim = r.dim
    )
    SELECT CAST(dim AS INT) AS dim, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(scale * 1e6, 6) AS scale_e6,
           ROUND(AVG(e * e) * 1e9, 4) AS mse_e9,
           ROUND(MAX(ABS(e)) * 1e6, 6) AS max_abs_err_e6,
           CASE WHEN MAX(ABS(e)) <= scale / 2 * (1 + 1e-9) THEN 1 ELSE 0 END
             AS within_half_step
    FROM err GROUP BY dim, scale
    """,
    tags=("vector", "quantization", "llm-pipeline"),
)
def embedding_int8_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar int8 quantization audit over the embedding corpus: each
    of the 64 dimensions gets a per-dim uniform quantizer (255 steps
    across the corpus [min, max]), and the query emits the
    reconstruction error profile — MSE (x1e9), max |error| (x1e6) —
    together with the in-query CERTIFICATE that every error respects
    the half-step bound max|err| <= scale/2, the defining guarantee of
    round-to-nearest scalar quantization. This is the memory-shape
    companion to `ann_ivf_pq`/`ann_ivfadc`: SQ8 is the baseline
    compressed representation (4x smaller, near-lossless recall) that
    large-scale serving uses when PQ's 64x compression is overkill.

    Scale shape: posexplode is map-only; the per-dim range table is 64
    rows (broadcast back to the flat stream — dimension-side build);
    the only corpus-volume shuffle keys on the 64 dim values with
    map-side partial min/max. Error metrics are scaled (x1e9 / x1e6)
    BEFORE the 4-6dp round so cross-engine float-sum drift (~1e-17)
    stays ~10 orders below the rounding grain."""
    emb = load_table(spark, sf_dir, "embeddings")
    flat = emb.select(
        "vec_id", F.posexplode("embedding").alias("pos", "xf")
    ).select("vec_id", (F.col("pos") + 1).alias("dim"), F.col("xf").cast("double").alias("x"))
    rng = flat.groupBy("dim").agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
    rng = rng.select("dim", "mn", "mx", ((F.col("mx") - F.col("mn")) / 255.0).alias("scale"))
    # scale = 0 (constant dimension) quantizes losslessly to code 0 with
    # reconstruction = mn = x, so e = 0 exactly — guarded EXPLICITLY in
    # both engines rather than via 0/0 division semantics, which diverge
    # (Spark non-ANSI NULL vs recent DuckDB IEEE NaN)
    err = flat.join(F.broadcast(rng), "dim").select(
        "dim",
        "scale",
        F.when(
            F.col("scale") > 0,
            F.col("x")
            - (F.round((F.col("x") - F.col("mn")) / F.col("scale"), 0) * F.col("scale") + F.col("mn")),
        )
        .otherwise(F.lit(0.0))
        .alias("e"),
    )
    return err.groupBy("dim", "scale").agg(
        F.count("*").cast("long").alias("n"),
        F.round(F.col("scale") * 1e6, 6).alias("scale_e6"),
        F.round(F.avg(F.col("e") * F.col("e")) * 1e9, 4).alias("mse_e9"),
        F.round(F.max(F.abs("e")) * 1e6, 6).alias("max_abs_err_e6"),
        F.when(F.max(F.abs("e")) <= F.col("scale") / 2 * (1 + 1e-9), 1)
        .otherwise(0)
        .alias("within_half_step"),
    ).select(
        F.col("dim").cast("int").alias("dim"),
        "n", "scale_e6", "mse_e9", "max_abs_err_e6", "within_half_step",
    )


@register(
    "margin_bitext_mining",
    # margin-criterion parallel-pair mining (Artetxe & Schwenk 2019,
    # "Margin-based Parallel Corpus Mining with Multilingual Sentence
    # Embeddings"): labels < 5 play language X, labels >= 5 language Y;
    # a bounded X query set (vec_id < 40) mines its best Y match by
    # ratio margin  cos(x,y) / (meanTop4(x->Y)/2 + meanTop4(y->X)/2) —
    # the margin denominator's y-side kNN runs over the FULL X side, so
    # the score is the paper's, not a query-set approximation.
    oracle="""
    WITH x AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE label < 5),
    y AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE label >= 5),
    q AS (SELECT * FROM x WHERE vec_id < 40),
    fwd AS (
      SELECT q.vec_id AS query_id, y.vec_id AS cand_id,
             ROUND(list_dot_product(q.v, y.v)
                   / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(y.v, y.v))),
                   6) AS cosine
      FROM q JOIN y ON TRUE
    ),
    fwd_rk AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, cand_id) AS rn
      FROM fwd
    ),
    knnx AS (
      SELECT query_id, ROUND(AVG(cosine), 6) AS knn_x
      FROM fwd_rk WHERE rn <= 4 GROUP BY query_id
    ),
    cands AS (SELECT DISTINCT cand_id FROM fwd_rk WHERE rn <= 4),
    bwd AS (
      SELECT c.cand_id, x.vec_id AS xid,
             ROUND(list_dot_product(y.v, x.v)
                   / (sqrt(list_dot_product(y.v, y.v)) * sqrt(list_dot_product(x.v, x.v))),
                   6) AS cosine
      FROM cands c JOIN y ON y.vec_id = c.cand_id JOIN x ON TRUE
    ),
    knny AS (
      SELECT cand_id, ROUND(AVG(cosine), 6) AS knn_y
      FROM (SELECT *, row_number() OVER (PARTITION BY cand_id
                                         ORDER BY cosine DESC, xid) AS rn FROM bwd)
      WHERE rn <= 4 GROUP BY cand_id
    ),
    scored AS (
      SELECT f.query_id, f.cand_id AS matched_id, f.cosine,
             CASE WHEN (kx.knn_x / 2 + ky.knn_y / 2) > 0
                  THEN ROUND(f.cosine / (kx.knn_x / 2 + ky.knn_y / 2), 6)
             END AS margin
      FROM fwd_rk f JOIN knnx kx USING (query_id) JOIN knny ky ON ky.cand_id = f.cand_id
      WHERE f.rn <= 4
    )
    SELECT query_id, matched_id, cosine, margin, margin > 1.0 AS is_mined
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY margin DESC, matched_id) AS rn
          FROM scored)
    WHERE rn = 1
    """,
    tags=("vector", "similarity", "llm-pipeline", "bitext", "mining"),
)
def margin_bitext_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-criterion bitext mining (Artetxe & Schwenk 2019) — the
    embedding-based parallel-pair miner of the CCMatrix/LASER pipelines:
    raw cosine over-selects hub vectors, so candidates are scored by the
    RATIO margin cos(x,y) / (mean of x's top-k cosines into Y / 2 + mean
    of y's top-k cosines into X / 2) and a pair is mined when its margin
    exceeds 1 (y is closer to x than y's other neighbors are). Labels
    partition the fixture into the two "languages".

    Scale shape: the bounded query set broadcasts against the streaming
    Y side (`similarity.cosine_topk`); the backward kNN runs the bounded
    candidate set (queries x k rows) against the streaming X side through
    the same operator — both passes are broadcast-bounded-side x
    streamed-corpus, never corpus x corpus. At
    full corpus-to-corpus mining scale the candidate generator swaps for
    the IVF/LSH route (`ann_ivf_bucketed`); the margin arithmetic is
    unchanged. Cosines rounded to 6dp before ranking/averaging for
    engine-stable order."""
    e = load_table(spark, sf_dir, "embeddings")
    x = e.filter(F.col("label") < 5)
    y = e.filter(F.col("label") >= 5)
    k = 4
    # forward kNN: the query set's top-k into Y (X and Y are disjoint, so
    # the operator's self-pair exclusion never fires)
    fwd = similarity.cosine_topk(x.filter(F.col("vec_id") < 40), y, "vec_id", "vec_id", k=k)
    fwd = fwd.withColumnRenamed("neighbor_id", "cand_id")
    knnx = fwd.groupBy("query_id").agg(F.round(F.avg("cosine"), 6).alias("knn_x"))
    # backward kNN: each distinct candidate's top-k into the full X side
    cands = fwd.select("cand_id").distinct().join(y, F.col("cand_id") == F.col("vec_id"))
    knny = (
        similarity.cosine_topk(cands, x, "cand_id", "vec_id", k=k)
        .groupBy(F.col("query_id").alias("cand_id"))
        .agg(F.round(F.avg("cosine"), 6).alias("knn_y"))
    )
    denom = F.col("knn_x") / 2 + F.col("knn_y") / 2
    scored = (
        fwd.join(knnx, "query_id")
        .join(knny, "cand_id")
        .select(
            "query_id",
            F.col("cand_id").alias("matched_id"),
            "cosine",
            F.when(denom > 0, F.round(F.col("cosine") / denom, 6)).alias("margin"),
        )
    )
    wm = Window.partitionBy("query_id").orderBy(F.desc("margin"), F.asc("matched_id"))
    return (
        scored.withColumn("rn", F.row_number().over(wm))
        .filter(F.col("rn") == 1)
        .drop("rn")
        .withColumn("is_mined", F.col("margin") > 1.0)
    )


@register(
    "ann_recall_audit",
    # the parameter-tuning companion of the ANN family: recall@5 of the
    # IVF route vs exact brute force, per nprobe in {1, 2, 4} — the
    # curve an operator reads to pick nprobe before a 100 TB rollout
    # (at nprobe = n_buckets IVF IS brute force; the audit shows how
    # fast recall converges). Fully oracled: DuckDB rebuilds centroids,
    # routes, searches, and intersects identically.
    oracle="""
    WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    cent AS (SELECT label, [{cent_elems}] AS c FROM v GROUP BY label),
    q AS (SELECT vec_id AS query_id, e AS qv FROM v WHERE vec_id < 20),
    routed AS (
      SELECT query_id, qv, label AS probed_label,
             row_number() OVER (PARTITION BY query_id ORDER BY
               ROUND(list_dot_product(qv, c)
                     / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(c, c))), 6) DESC,
               label) AS route_rank
      FROM q CROSS JOIN cent
    ),
    cand AS (
      SELECT r.query_id, r.route_rank, x.vec_id AS neighbor_id,
             ROUND(list_dot_product(r.qv, x.e)
                   / (sqrt(list_dot_product(r.qv, r.qv)) * sqrt(list_dot_product(x.e, x.e))), 6)
               AS cosine
      FROM routed r JOIN v x ON x.label = r.probed_label AND x.vec_id <> r.query_id
      WHERE r.route_rank <= 4
    ),
    ivf AS (
      SELECT p.nprobe, c.query_id, c.neighbor_id,
             row_number() OVER (PARTITION BY p.nprobe, c.query_id
                                ORDER BY c.cosine DESC, c.neighbor_id) AS rn
      FROM (SELECT unnest([1, 2, 4]) AS nprobe) p
      JOIN cand c ON c.route_rank <= p.nprobe
    ),
    bf AS (
      SELECT query_id, neighbor_id FROM (
        SELECT qq.query_id, x.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY qq.query_id ORDER BY
                 ROUND(list_dot_product(qq.qv, x.e)
                       / (sqrt(list_dot_product(qq.qv, qq.qv))
                          * sqrt(list_dot_product(x.e, x.e))), 6) DESC,
                 x.vec_id) AS rn
        FROM q qq JOIN v x ON x.vec_id <> qq.query_id)
      WHERE rn <= 5
    ),
    hits AS (
      SELECT i.nprobe, i.query_id, COUNT(b.neighbor_id) AS n_hit
      FROM ivf i LEFT JOIN bf b
        ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id
      WHERE i.rn <= 5
      GROUP BY i.nprobe, i.query_id
    )
    SELECT CAST(nprobe AS INT) AS nprobe,
           CAST(COUNT(*) AS BIGINT) AS n_queries,
           ROUND(AVG(n_hit / 5.0), 6) AS avg_recall,
           ROUND(MIN(n_hit / 5.0), 6) AS min_recall
    FROM hits GROUP BY nprobe
    """.format(cent_elems=", ".join(f"AVG(e[{d}])" for d in range(1, EMB_DIM + 1))),
    tags=("vector", "similarity", "ann", "ivf", "recall", "llm-pipeline"),
)
def ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF recall@5 audit across nprobe ∈ {1, 2, 4} — the tuning curve
    behind every IVF deployment decision (Jégou et al. 2011 report
    recall as a function of probed cells; this measures it on the live
    index): exact brute-force top-5 per query vs the IVF route's top-5
    when the 1/2/4 nearest coarse cells are probed, averaged over a
    20-query panel.

    Scale shape: the query panel broadcasts against the streaming
    corpus for the exact baseline (`similarity.cosine_topk`) and the
    routing table (queries × cells, ≤ 80 rows) joins the corpus on the
    LABEL key for candidates — only probed cells are scanned, which is
    the IVF premise being audited. The nprobe fanout multiplies the
    bounded candidate top-k, not the corpus. Cosines rounded 6dp before
    every ranking so route and rank are engine-stable."""
    e = load_table(spark, sf_dir, "embeddings")
    vecs = e.select("vec_id", "label", to_double_array("embedding").alias("v"))
    cent = similarity.mean_vectors(vecs, "label", "v")
    q = vecs.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    routed = _ivf_route(q, cent).filter(F.col("route_rank") <= 4).drop("csim")
    cand = (
        F.broadcast(routed)
        .join(vecs, (vecs.label == routed.probed_label) & (vecs.vec_id != routed.query_id))
        .select(
            "query_id",
            "route_rank",
            F.col("vec_id").alias("neighbor_id"),
            F.round(cosine_similarity(F.col("qv"), F.col("v")), 6).alias("cosine"),
        )
    )
    probes = spark.createDataFrame([(1,), (2,), (4,)], ["nprobe"])
    wivf = Window.partitionBy("nprobe", "query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    ivf = (
        F.broadcast(probes)
        .join(cand, F.col("route_rank") <= F.col("nprobe"))
        .withColumn("rn", F.row_number().over(wivf))
        .filter(F.col("rn") <= 5)
        .select("nprobe", "query_id", "neighbor_id")
    )
    bf = similarity.cosine_topk(e.filter(F.col("vec_id") < 20), e, "vec_id", "vec_id", k=5).select(
        F.col("query_id").alias("bf_query_id"),
        F.col("neighbor_id").alias("bf_neighbor_id"),
    )
    hits = (
        ivf.join(
            bf,
            (F.col("bf_query_id") == F.col("query_id"))
            & (F.col("bf_neighbor_id") == F.col("neighbor_id")),
            "left",
        )
        .select("nprobe", "query_id", "bf_neighbor_id")
        .groupBy("nprobe", "query_id")
        .agg(F.count("bf_neighbor_id").alias("n_hit"))
    )
    return hits.groupBy(F.col("nprobe").cast("int").alias("nprobe")).agg(
        F.count("*").cast("long").alias("n_queries"),
        F.round(F.avg(F.col("n_hit") / 5.0), 6).alias("avg_recall"),
        F.round(F.min(F.col("n_hit") / 5.0), 6).alias("min_recall"),
    )
