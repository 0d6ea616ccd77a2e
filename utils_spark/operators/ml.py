"""ML / graph operators (reference SURVEY §2.8: M1 PCA, M4 KNN/SNN graph,
M5/M6 clustering, M7 cluster-tree, M11 LISI, M12 centroid-MST pseudotime).

Built on MLlib + DataFrame compositions. Correctness is property-tested
(variance ordering, partition validity, monotone pseudotime — SURVEY §5),
not label-oracled: distributed clustering parity with igraph/Seurat is
approximate by nature (SURVEY §7.3).
"""

from __future__ import annotations

import math

import pandas as pd  # module-level so pandas_udf type hints resolve under
# `from __future__ import annotations` (get_type_hints looks in module globals)
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from utils_spark.functions import dot, sq_l2, to_double_array
from utils_spark.operators.similarity import mean_vectors
from utils_spark.plans import (
    SAME_STATE,
    cut_lineage,
    fixpoint,
    interpreted_execution,
    observed_cut,
    scaled_shuffle_partitions,
    scoped_conf,
    scratch_persist,
)
from utils_spark.session import session_store


def _to_vector_col(df: DataFrame, array_col: str, out: str = "features") -> DataFrame:
    """array<double> → MLlib Vector column (the ML boundary — SURVEY §7.6:
    arrays everywhere, vectors only where MLlib requires them)."""
    from pyspark.ml.functions import array_to_vector

    return df.withColumn(out, array_to_vector(to_double_array(array_col)))


def pca_embed(
    df: DataFrame,
    array_col: str,
    n_components: int = 10,
    standardize: bool = False,
    out_col: str = "pca",
) -> tuple[DataFrame, list[float]]:
    """Truncated PCA (reference M1: R/wrapper.R:285-291 irlba::prcomp_irlba
    — already-truncated SVD, which MLlib PCA matches at k).

    Returns (df + array<double> `out_col`, explained-variance ratios).
    Distributed: gram-matrix accumulation executor-side, eigen-solve of the
    (d×d) gram on the driver — d is feature count, never row count."""
    from pyspark.ml.feature import PCA, StandardScaler
    from pyspark.ml.functions import vector_to_array

    work = _to_vector_col(df, array_col, "__feat")
    feat = "__feat"
    if standardize:
        scaler = StandardScaler(inputCol="__feat", outputCol="__scaled", withMean=True, withStd=True)
        work = scaler.fit(work).transform(work)
        feat = "__scaled"
    model = PCA(k=n_components, inputCol=feat, outputCol="__pc").fit(work)
    out = (
        model.transform(work)
        .withColumn(out_col, vector_to_array("__pc"))
        .drop("__feat", "__scaled", "__pc")
    )
    return out, list(model.explainedVariance)


def kmeans_clusters(
    df: DataFrame, array_col: str, k: int, seed: int = 290, out_col: str = "cluster"
) -> DataFrame:
    """KMeans clustering on an array column (pragmatic analog of the
    reference's community-detection step M5 for globular structure;
    BisectingKMeans covers the divisive-hierarchical case M6)."""
    from pyspark.ml.clustering import KMeans

    work = _to_vector_col(df, array_col, "__feat")
    model = KMeans(k=k, seed=seed, featuresCol="__feat", predictionCol=out_col).fit(work)
    return model.transform(work).drop("__feat")


def bisecting_clusters(
    df: DataFrame, array_col: str, k: int, seed: int = 290, out_col: str = "cluster"
) -> DataFrame:
    """Divisive hierarchical clustering (reference M6 hierarchical analog:
    R/wrapper.R:267-324 cluster sweep / hclust-style structure):
    BisectingKMeans recursively splits the largest cluster until k leaves —
    the distributed analog of cutting a divisive dendrogram at k, with no
    n² distance matrix (the reason agglomerative hclust itself cannot
    scale to 100 TB)."""
    from pyspark.ml.clustering import BisectingKMeans

    work = _to_vector_col(df, array_col, "__feat")
    model = BisectingKMeans(k=k, seed=seed, featuresCol="__feat", predictionCol=out_col).fit(work)
    return model.transform(work).drop("__feat")


# knn_graph hot-bucket salting thresholds (r15, guide §2.5): a bucket is
# "hot" above _HOT_BUCKET_OCCUPANCY members (cold worst case ≈ 1024² ≈ 1M
# distance evals per bucket, sub-second); hot buckets are sliced to
# ~_TARGET_SLICE_OCCUPANCY probe rows per salt, capped at _MAX_BUCKET_SALTS
# (bounds build-side replication of a hot bucket to ≤ 64×its own rows).
_HOT_BUCKET_OCCUPANCY = 1024
_TARGET_SLICE_OCCUPANCY = 256
_MAX_BUCKET_SALTS = 64
_MAX_HOT_BUCKETS = 100_000  # census collect/broadcast guard (~few MB of rows)


def knn_graph(
    df: DataFrame,
    key_col: str,
    array_col: str,
    k: int = 10,
    bucket_length: float = 2.0,
    num_hash_tables: int = 3,
    max_distance: float = float("inf"),
) -> DataFrame:
    """Approximate KNN edge list via bucketed-random-projection LSH
    (reference M4: R/wrapper.R:294 FindNeighbors): (src, dst, dist), ≤k
    neighbors per src. LSH bounds candidate pairs (vs. O(n²) crossJoin);
    tune bucket_length/num_hash_tables for recall-vs-cost.

    PRECONDITION: ``key_col`` must be unique per row. The per-bucket
    top-k prefilter's exactness proof (below) counts each key at most
    once per (table, bucket); duplicate keys inflate within-bucket
    row_number ranks and can silently drop a true global top-k neighbor
    from every bucket it shares with its src. All in-repo callers pass a
    primary key (d_docid / e_id / a synthetic row id); dedup upstream if
    yours is not.

    The hash family is MLlib's BucketedRandomProjectionLSH — the seeded
    random unit vectors come from the (cached, data-independent) fitted
    model, so buckets and therefore the candidate-pair set are IDENTICAL
    to ``model.approxSimilarityJoin`` — but the banded join itself is
    native DataFrame ops: per-table hash ``floor(<v,u_j>/L)``, explode →
    (table, bucket) equi-join → per-bucket top-k prefilter → per-pair min
    (dups across tables collapse; distance is identical per dup) → global
    top-k. Flatter plan than the MLlib wrapper (one explode instead of
    its dataset-tagging union machinery), pure JVM expressions end to end.

    Scale contract (r14 shuffle-probe fix): within-bucket candidate pairs
    grow ~quadratically with bucket occupancy, so shuffling them all into
    the (src, dst) dedup makes NETWORK cost density-superlinear (measured
    17.6× bytes for 10× data before the fix). The join therefore carries
    a merge hint — a self-join of equal sides is never broadcastable at
    real scale, and SMJ output stays hash-clustered by (table, bucket) —
    so the per-(table, bucket, src) top-k window needs only a local sort,
    no exchange, and the candidate stream that reaches the wire is
    ≤ n·num_hash_tables·k rows (linear). The prefilter is EXACT, not
    approximate: both windows rank by the same total order (dist asc,
    dst asc), and a dst in src's global top-k has rank ≤ k within every
    bucket it shares with src, because the bucket's members (each key at
    most once per bucket) are a subset of the global candidate union —
    so it always survives the local cut. The quadratic pair enumeration
    still happens, but as in-partition CPU, not shuffle — so at growing
    data DENSITY (points per unit volume), shrink ``bucket_length`` to
    hold expected bucket occupancy near O(k): that bounds the local CPU
    too, at the usual LSH recall-tuning cost.

    Skew contract (r15, guide §2.5): bucket occupancy is data-skew-shaped
    (boilerplate-heavy corpora, or a mistuned bucket_length, concentrate
    points in few buckets), and a hot bucket's quadratic enumeration is
    ONE task — the r15 CPU witness measured a 23-32 s single task on the
    deliberately-pinned knn_snn_lisi fixture while 31 cores idled. Since
    the hot unit is a single join KEY, neither AQE skew-join (can't split
    a key) nor AQE coalescing (byte-blind: these partitions are CPU-dense
    but byte-light, so it GLUES them together) helps. Fix: an occupancy
    census (one light (table, bucket) count, materialized eagerly: the
    hot list is bounded by rows/_HOT_BUCKET_OCCUPANCY, guarded by
    _MAX_HOT_BUCKETS, and when EMPTY the exact r14 single-path 4-exchange
    plan is emitted, so no-skew consumers pay only the census pass)
    routes buckets above
    _HOT_BUCKET_OCCUPANCY through a SALTED twin of the merge join — the
    probe side keyed by pmod(xxhash64(key), nsalt) (deterministic, task-
    retry-safe), the build side exploded nsalt ways, nsalt =
    ceil(occ / _TARGET_SLICE_OCCUPANCY) capped at _MAX_BUCKET_SALTS — so
    a hot bucket's pair enumeration fans out across nsalt tasks. The
    probe side is pinned with an explicit repartition (user-specified
    partition counts are exempt from AQE's byte-based coalescing, which
    would otherwise re-serialize the CPU-dense slices). EXACTNESS is
    unchanged: salt is a pure function of src, so every per-(table,
    bucket, src) window group lives wholly in one slice and each (table,
    bucket) pair set is generated exactly once (hot XOR cold path); the
    per-pair min and global top-k below see the identical candidate
    multiset. No-skew inputs pay only the census aggregation — the hot
    path is empty, and replication cost is bounded by nsalt × (hot rows
    only), never a blanket constant on the whole corpus. PRECONDITION:
    hot buckets are FEW (skew means few giant keys — the census result
    above the threshold must fit a broadcast); uniformly-high occupancy
    is bucket_length's tuning domain, not salting's."""
    work = _to_vector_col(df, array_col, "__feat").select(F.col(key_col).alias("__key"), "__feat")
    model = _fitted_brp_lsh(work, bucket_length, num_hash_tables)
    jvecs = model._java_obj.randUnitVectors()  # type: ignore[attr-defined]
    units = [[float(x) for x in v.toArray()] for v in jvecs]  # scala Array → py4j JavaArray
    pts = df.select(
        F.col(key_col).alias("__key"), F.col(array_col).cast("array<double>").alias("__v")
    )
    hash_exprs = [
        F.floor(
            dot(F.col("__v"), F.array(*[F.lit(x) for x in u])) / F.lit(float(bucket_length))
        ).cast("long")
        for u in units
    ]
    hashed = pts.select(
        "__key", "__v", F.posexplode(F.array(*hash_exprs)).alias("__ht", "__hv")
    )
    dist = F.sqrt(sq_l2(F.col("a.__v"), F.col("b.__v")))

    def _bucket_topk(joined, extra_part_cols: list[str]):
        # candidate enumeration + the exact per-bucket cut (see docstring):
        # the window's partition keys extend the join's clustering, so it
        # needs only a local sort — never an exchange of the candidates
        cands = (
            joined.filter(F.col("a.__key") != F.col("b.__key"))
            .select(
                "__ht",
                "__hv",
                *extra_part_cols,
                F.col("a.__key").alias("src"),
                F.col("b.__key").alias("dst"),
                dist.alias("dist"),
            )
            .filter(F.col("dist") <= max_distance)
        )
        wb = Window.partitionBy("__ht", "__hv", *extra_part_cols, "src").orderBy(
            F.asc("dist"), F.asc("dst")
        )
        return (
            cands.withColumn("__brn", F.row_number().over(wb))
            .filter(F.col("__brn") <= k)
            .select("src", "dst", "dist")
        )

    # occupancy census → hot buckets take the salted join (see docstring).
    # The census is materialized EAGERLY: the hot list is bounded by
    # construction (≤ rows/_HOT_BUCKET_OCCUPANCY entries, loud error past
    # _MAX_HOT_BUCKETS — at that point bucket_length is catastrophically
    # mistuned and no salting rescues a broadcast that size), and knowing
    # it is EMPTY lets the no-skew case keep the exact r14 single-path
    # 4-exchange plan — measured +1.6-2.3 s per consumer when the salted
    # twin stayed in the plan unconditionally.
    #
    # `hashed` is persisted across the census AND the join sides (r16,
    # VERDICT r15 item 2/3): the census collect materializes it, so the
    # cold case goes from 3 scan+hash passes (census + both merge-join
    # sides) to 1 compute + cached reads, the hot case from 5. One
    # (key, vec, table, bucket) row per point per hash table —
    # num_hash_tables× the input, MEMORY_AND_DISK. Scratch-registered;
    # harnesses release it after the consumer's terminal action.
    hashed = scratch_persist(hashed)
    occ = hashed.groupBy("__ht", "__hv").agg(F.count("*").alias("__occ"))
    hot_rows = (
        occ.filter(F.col("__occ") > _HOT_BUCKET_OCCUPANCY)
        .select(
            "__ht",
            "__hv",
            F.least(
                F.ceil(F.col("__occ") / F.lit(_TARGET_SLICE_OCCUPANCY)),
                F.lit(_MAX_BUCKET_SALTS),
            ).cast("long").alias("__nsalt"),
        )
        .limit(_MAX_HOT_BUCKETS + 1)
        .collect()
    )
    if len(hot_rows) > _MAX_HOT_BUCKETS:
        raise ValueError(
            f"knn_graph: more than {_MAX_HOT_BUCKETS} LSH buckets exceed "
            f"occupancy {_HOT_BUCKET_OCCUPANCY} — bucket_length={bucket_length} "
            "is far too coarse for this data density; shrink it (see the "
            "bucket-occupancy tuning rule in the docstring) instead of "
            "relying on hot-bucket salting."
        )
    if not hot_rows:
        local = _bucket_topk(
            hashed.alias("a").hint("merge").join(hashed.alias("b").hint("merge"), ["__ht", "__hv"]),
            [],
        )
    else:
        spark = df.sparkSession
        hot = F.broadcast(
            spark.createDataFrame(hot_rows, schema="__ht int, __hv long, __nsalt long")
        )
        cold = hashed.join(hot, ["__ht", "__hv"], "left_anti")
        local_cold = _bucket_topk(
            cold.alias("a").hint("merge").join(cold.alias("b").hint("merge"), ["__ht", "__hv"]),
            [],
        )
        n_part = int(hashed.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        hot_a = (
            hashed.join(hot, ["__ht", "__hv"])
            .withColumn("__salt", F.pmod(F.xxhash64("__key"), F.col("__nsalt")))
            .drop("__nsalt")
            # user-specified partition count: exempt from AQE byte-based
            # coalescing, which would re-merge the CPU-dense byte-light slices
            .repartition(n_part, "__ht", "__hv", "__salt")
        )
        hot_b = (
            hashed.join(hot, ["__ht", "__hv"])
            .withColumn(
                "__salt", F.explode(F.sequence(F.lit(0).cast("long"), F.col("__nsalt") - 1))
            )
            .drop("__nsalt")
        )
        local_hot = _bucket_topk(
            hot_a.alias("a")
            .hint("merge")
            .join(hot_b.alias("b").hint("merge"), ["__ht", "__hv", "__salt"]),
            ["__salt"],
        )
        local = local_cold.unionByName(local_hot)
    pairs = local.groupBy("src", "dst").agg(F.min("dist").alias("dist"))
    w = Window.partitionBy("src").orderBy(F.asc("dist"), F.asc("dst"))
    return pairs.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") <= k).drop("__rn")


# BucketedRandomProjectionLSH.fit is DATA-INDEPENDENT given the seed and
# the input dimensionality: it only draws the seeded random unit
# projection vectors (no statistics of the data enter the model). The
# fitted model is therefore cacheable per (dim, bucket_length,
# num_hash_tables, seed) for the whole session — repeated graph builds
# (bench min-of-2, the lisi/triangle/louvain queries sharing one layout)
# skip the fit job; the cache key's dim probe is a single narrow head().
# It lives in the session's ``session_store``, so the JVM model is
# released with the session.
def _fitted_brp_lsh(work: DataFrame, bucket_length: float, num_hash_tables: int, seed: int = 290):
    from pyspark.ml.feature import BucketedRandomProjectionLSH

    head = work.select("__feat").head()
    dim = len(head[0]) if head is not None else 0
    store = session_store(work.sparkSession)
    key = ("brp_lsh", dim, bucket_length, num_hash_tables, seed)
    model = store.get(key)
    if model is None:
        model = BucketedRandomProjectionLSH(
            inputCol="__feat",
            outputCol="__hashes",
            bucketLength=bucket_length,
            numHashTables=num_hash_tables,
            seed=seed,
        ).fit(work)
        store[key] = model
    return model


def snn_graph(knn_edges: DataFrame, min_shared: int = 1) -> DataFrame:
    """Shared-nearest-neighbor graph from a KNN edge list (reference M4:
    Seurat SNN): edge weight = |N(a) ∩ N(b)| via self-join on the shared
    neighbor key — one shuffle on dst."""
    a, b = knn_edges.alias("a"), knn_edges.alias("b")
    return (
        a.join(b, (F.col("a.dst") == F.col("b.dst")) & (F.col("a.src") < F.col("b.src")))
        .groupBy(F.col("a.src").alias("u"), F.col("b.src").alias("v"))
        .agg(F.count("*").alias("shared"))
        .filter(F.col("shared") >= min_shared)
    )


def label_propagation(
    edges: DataFrame, nodes: DataFrame, key_col: str, max_iter: int = 10, seed_col: str | None = None
) -> DataFrame:
    """Community detection by synchronous label propagation over an edge
    list (reference M5 baseline: R/wrapper.R:296-303 FindClusters; exact
    Louvain modularity parity is out of scope — SURVEY §7.3, property
    tests instead). Each round: adopt the most frequent neighbor label
    (ties → smallest label, deterministic).

    Rounds run in pairs on ``plans.fixpoint`` (one lineage cut per pair)
    with its exact-equality stop rule: once a pair of rounds leaves the
    labels unchanged, every later pair does too (the update is a
    deterministic function of the labels), so stopping there returns
    exactly the labels of the full ``max_iter`` rounds; an odd last
    round is applied after the loop."""
    lbl = nodes.select(F.col(key_col).alias("node"), (F.col(seed_col) if seed_col else F.col(key_col)).alias("label"))
    # cut the upstream lineage once: the edge list is re-read every round
    # (and the round plans reference lbl twice), so an expensive producer
    # like an LSH KNN join would otherwise be re-planned 2^iters times
    und = cut_lineage(
        edges.select("u", "v")
        .union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
    )

    def lpa_round(lbl: DataFrame) -> DataFrame:
        neigh = (
            und.join(lbl.withColumnRenamed("node", "v"), "v")
            .groupBy("u", "label")
            .agg(F.count("*").alias("votes"))
        )
        w = Window.partitionBy("u").orderBy(F.desc("votes"), F.asc("label"))
        new_lbl = (
            neigh.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select(F.col("u").alias("node"), "label")
        )
        return (
            lbl.join(new_lbl.withColumnRenamed("label", "__new"), "node", "left")
            .select("node", F.coalesce("__new", "label").alias("label"))
        )

    lbl, _ = fixpoint(lambda lbl, _it: lpa_round(lpa_round(lbl)), lbl, max_iter // 2, until=SAME_STATE)
    return lpa_round(lbl) if max_iter % 2 else lbl


def _symmetrize(edges: DataFrame, weight_col: str | None) -> DataFrame:
    """Undirected edge list → both-direction representation (u, v, w),
    self-loops and NONPOSITIVE-weight edges dropped. Each surviving
    undirected edge appears exactly twice.

    Zero-weight edges contribute nothing to node strengths, community
    totals, or modularity, but their mere presence made the Louvain
    convergence probes disagree (ADVICE r6): the fused sweep probe
    counted only crossing edges with w_ic > 0 while the max_iter-bailout
    ``limit(1)`` probe counted ANY crossing edge. Filtering them once
    here makes every downstream consumer (modularity, louvain, leiden
    refinement, label propagation) see the same edge set. Negative
    weights are outside the modularity contract and are dropped with
    them."""
    w = F.col(weight_col).cast("double") if weight_col else F.lit(1.0)
    e = edges.select(F.col("u").cast("long"), F.col("v").cast("long"), w.alias("w")).filter(
        (F.col("u") != F.col("v")) & (F.col("w") > 0)
    )
    return e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v"), "w"))


def modularity(
    edges: DataFrame, assignment: DataFrame, weight_col: str | None = None, resolution: float = 1.0
) -> float:
    """Newman modularity Q = Σ_c (W_c/2m − γ·(tot_c/2m)²) of a partition
    (assignment: node → community) over an undirected edge list. W_c sums
    directed in-community weight (each undirected edge twice); tot_c is
    community strength. Two joins + one agg; only the per-community sums
    reach the driver."""
    und = _symmetrize(edges, weight_col)
    a = assignment.select(F.col("node").cast("long"), F.col("community").cast("long"))
    lab = und.join(a.withColumnRenamed("node", "u").withColumnRenamed("community", "cu"), "u").join(
        a.withColumnRenamed("node", "v").withColumnRenamed("community", "cv"), "v"
    )
    m2 = und.agg(F.sum("w")).first()[0]
    if not m2:  # empty / weightless edge list: Q of the trivial graph is 0
        return 0.0
    per_c = (
        lab.groupBy("cu")
        .agg(
            F.sum(F.when(F.col("cu") == F.col("cv"), F.col("w")).otherwise(0.0)).alias("w_in"),
            F.sum("w").alias("tot"),
        )
        .agg(
            F.sum(F.col("w_in") / m2).alias("lhs"),
            F.sum((F.col("tot") / m2) * (F.col("tot") / m2)).alias("rhs"),
        )
        .first()
    )
    return float(per_c["lhs"] - resolution * per_c["rhs"])


def louvain_communities(
    edges: DataFrame,
    nodes: DataFrame,
    key_col: str,
    weight_col: str | None = None,
    resolution: float = 1.0,
    max_iter: int = 20,
    levels: int = 2,
) -> DataFrame:
    """Louvain modularity community detection (reference M5:
    R/wrapper.R:296-303 FindClusters algorithm 1 — Blondel et al. 2008),
    distributed as synchronous local moving + graph contraction.

    Each sweep every node evaluates, per neighboring community C, the
    resolution-scaled modularity gain
    ΔQ(i→C) = w(i→C)/2m − γ·k_i·tot(C∖i)/(2m)² and adopts the argmax if it
    strictly beats staying (ties → smallest community id). Synchronous
    moves can oscillate in bipartite-ish structures; two gates make the
    sweep deterministic and convergent without halving throughput:
    a move to a SMALLER community id is always allowed (each such move
    strictly decreases that node's label, and labels are bounded below, so
    id-decreasing moves can never cycle — and since ties break toward the
    smallest id, this is the common direction: cliques collapse onto their
    min node in one sweep instead of log₂(size) parity rounds), while an
    id-increasing move additionally requires xxhash64(node)%2 == iter%2
    (the parity gate that breaks A⇄B swap cycles, which are always
    id-increasing on one side). After the sweeps converge, the graph is contracted
    (communities become super-nodes, parallel edges summed) and the next
    level repeats on the quotient graph; final labels compose the levels.

    Scale shape: pure aggregate-messages — each sweep is one join of edges
    with the assignment plus two bounded aggs (``_local_moving_sweep``,
    shared with ``refine_partition``); no per-node driver loop. The
    sweeps run on ``plans.fixpoint``, so the lineage cut and the
    desired-move convergence count ride one checkpoint job per sweep; 2m
    and the edge count ride the input checkpoint, and the phase-2
    crossing test rides the last sweep. Sweep parallelism is sized from
    the measured edge count (no-op at cluster scale — see
    plans.scaled_shuffle_partitions). Keys must be integral.

    Returns (node, community)."""
    spark = edges.sparkSession
    # 2m and the edge count ride the input checkpoint; graph contraction
    # preserves total weight (intra-community weight becomes self-loops),
    # so ONE measurement serves every level.
    und, m = observed_cut(_symmetrize(edges, weight_col), F.sum("w").alias("m2"))
    base = nodes.select(F.col(key_col).cast("long").alias("node")).distinct()
    # node → final community, composed across levels
    mapping = base.select("node", F.col("node").alias("community"))
    if not m["m2"]:
        return mapping
    # Iterative sweeps shuffle the same bounded graph dozens of times; size
    # their parallelism from the MEASURED edge count (no-op at 100 TB —
    # see plans.scaled_shuffle_partitions). AQE is disabled inside the
    # loop: partitions are already sized from the measured graph, and
    # AQE's stage-as-job submission added ~15 scheduler round-trips per
    # run on an already-2-partition plan (measured ~0.7 s at sf0.1) while
    # having nothing left to re-optimize; restored on exit either way.
    with scoped_conf(spark, "spark.sql.adaptive.enabled", "false"), scaled_shuffle_partitions(
        spark, m["n"], 100_000
    ), interpreted_execution(spark, m["n"]):
        return _louvain_levels(und, mapping, float(m["m2"]), resolution, max_iter, levels)


def _sweep_candidates(asg: DataFrame, edges: DataFrame, deg: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Candidate moves of one local-moving sweep under assignment ``asg``
    (node, community): per node u, the weight w_ic into each neighboring
    community c plus a zero-weight stay row for its own community
    c_own, and the community strength table (community, tot). ``edges``
    (u, v, w) must exclude self-loops — super-node internal weight
    travels with the node, so it cancels in gain comparisons and must not
    inflate the stay option. The stay row is unioned BEFORE the
    aggregation so one groupBy builds the full candidate set (it sums
    into the real in-community weight when present, stands alone
    otherwise — incl. isolated nodes); tagging c_own afterwards is a
    plain u-keyed join."""
    ctot = (
        asg.join(deg.withColumnRenamed("u", "node"), "node")
        .groupBy("community")
        .agg(F.sum("k").alias("tot"))
    )
    nbr = (
        edges.join(asg.withColumnRenamed("node", "v").withColumnRenamed("community", "c"), "v")
        .select("u", "c", F.col("w").alias("w_ic"))
    )
    own = asg.select(F.col("node").alias("u"), F.col("community").alias("c_own"))
    stay = own.select("u", F.col("c_own").alias("c"), F.lit(0.0).alias("w_ic"))
    cand = (
        nbr.unionByName(stay)
        .groupBy("u", "c")
        .agg(F.sum("w_ic").alias("w_ic"))
        .join(own, "u")
    )
    return cand, ctot


def _local_moving_sweep(
    cand: DataFrame, ctot: DataFrame, deg: DataFrame, m2: float, resolution: float
) -> DataFrame:
    """The scoring half of a local-moving sweep, shared by Louvain and the
    Leiden refinement: per node, the candidate community with the
    largest resolution-scaled modularity gain
    ΔQ(i→C) = w(i→C)/2m − γ·k_i·tot(C∖i)/(2m)² (ties → smallest id).
    Returns (node, c_best, c_own, has_cross); has_cross says whether the
    node has ANY positive-weight edge into another community under the
    sweep-start assignment — an unordered max over the same window
    partition (no extra shuffle), pruned by the planner when unused. Each
    caller applies its own move gate."""
    scored = (
        cand.join(ctot.withColumnRenamed("community", "c"), "c")
        .join(deg, "u")
        .withColumn(
            "tot_excl",
            F.col("tot") - F.when(F.col("c") == F.col("c_own"), F.col("k")).otherwise(0.0),
        )
        .withColumn(
            "gain",
            F.col("w_ic") / m2
            - F.lit(resolution) * F.col("k") * F.col("tot_excl") / (m2 * m2),
        )
    )
    wbest = Window.partitionBy("u").orderBy(F.desc("gain"), F.asc("c"))
    return (
        scored.withColumn("__rn", F.row_number().over(wbest))
        .withColumn(
            "has_cross",
            F.max(
                ((F.col("c") != F.col("c_own")) & (F.col("w_ic") > 0)).cast("long")
            ).over(Window.partitionBy("u")),
        )
        .filter(F.col("__rn") == 1)
        .select(
            F.col("u").alias("node"),
            F.col("c").alias("c_best"),
            F.col("c_own"),
            "has_cross",
        )
    )


def _parity_gate(it: int):
    """Move eligibility shared by both sweeps: id-decreasing moves are
    monotone (labels are bounded below, so they can never cycle) and
    always eligible; id-increasing moves need xxhash64(node)%2 == it%2,
    which breaks A⇄B swap cycles (always id-increasing on one side)."""
    return (F.col("c_best") < F.col("c_own")) | (
        F.pmod(F.xxhash64("node"), F.lit(2)) == F.lit(it % 2)
    )


def _louvain_levels(
    und: DataFrame,
    mapping: DataFrame,
    m2: float,
    resolution: float,
    max_iter: int,
    levels: int,
) -> DataFrame:
    """Level/sweep loop of ``louvain_communities``, run inside its
    shuffle-parallelism and AQE guards. ``m2`` (total directed weight =
    2m) is measured once by the caller — contraction preserves it
    exactly."""
    for level in range(levels):
        # deg is read 2-3x per sweep (ctot + scored + stay); checkpoint it
        # once per level so every sweep's plan references a flat
        # LogicalRDD instead of re-analyzing the aggregation subplan
        # 3x per sweep (measured: cache() kept execution cheap but paid
        # more in driver-side planning than the one checkpoint job costs)
        deg = cut_lineage(und.groupBy("u").agg(F.sum("w").alias("k")))
        nonself = und.filter(F.col("u") != F.col("v"))

        def sweep(asg: DataFrame, it: int) -> DataFrame:
            if it == 0:
                # SWEEP-1 SPECIALIZATION: the level starts from the
                # identity assignment (community(v) == v), so ctot IS the
                # degree table and the neighbor's community IS the
                # neighbor — the two asg joins and the community
                # re-aggregation collapse to projections. Saves ~4
                # exchanges on the first (often only-moving) sweep of
                # every level.
                ctot = deg.select(F.col("u").alias("community"), F.col("k").alias("tot"))
                nbr = nonself.select("u", F.col("v").alias("c"), F.col("w").alias("w_ic"))
                stay = deg.select("u", F.col("u").alias("c"), F.lit(0.0).alias("w_ic"))
                cand = (
                    nbr.unionByName(stay)
                    .groupBy("u", "c")
                    .agg(F.sum("w_ic").alias("w_ic"))
                    .withColumn("c_own", F.col("u"))
                )
            else:
                cand, ctot = _sweep_candidates(asg, nonself, deg)
            best = _local_moving_sweep(cand, ctot, deg, m2, resolution)
            moves = _parity_gate(it) & (F.col("c_best") != F.col("c_own"))
            return best.withColumn(
                "community", F.when(moves, F.col("c_best")).otherwise(F.col("c_own"))
            )

        # every node with an edge appears in deg — reuse it as the node set
        # (isolated super-nodes keep strength 0 and never move anyway).
        # Convergence is tested on DESIRED moves (any node whose argmax
        # beats staying, parity-eligible or not): d == 0 is the exact
        # local-moving fixed point — no node wants to change under the
        # current assignment.
        asg, last = fixpoint(
            sweep,
            deg.select(F.col("u").alias("node"), F.col("u").alias("community")),
            max_iter,
            metrics=(
                F.sum((F.col("c_best") != F.col("c_own")).cast("long")).alias("d"),
                F.sum("has_cross").alias("x"),
            ),
            until=lambda m: not m["d"],
        )

        level_map = asg.select(F.col("node").alias("community"), F.col("community").alias("__c2"))
        mapping = (
            mapping.join(level_map, "community", "left")
            .select("node", F.coalesce("__c2", "community").alias("community"))
        )
        if level + 1 < levels:
            # Blondel phase-2 termination, checked BEFORE paying the
            # contraction OR the mapping checkpoint: if no edge crosses
            # communities at the fixed point, the quotient graph is all
            # self-loops and further levels cannot move anything — return
            # the lazily-composed mapping and let the consumer's action
            # materialize it (the eager checkpoint used to cost a job on
            # exactly the converged path). When the sweeps converged, asg
            # equals the last sweep's start assignment, so that sweep's
            # has_cross metric already answered the probe (free); only a
            # max_iter bailout (asg moved past the last sweep's evidence)
            # pays the explicit limit(1) probe.
            if last and not last["d"]:
                crossing = int(last["x"] or 0)
            else:
                crossing = (
                    nonself.join(asg.withColumnRenamed("node", "u").withColumnRenamed("community", "cu"), "u")
                    .join(asg.withColumnRenamed("node", "v").withColumnRenamed("community", "cv"), "v")
                    .filter(F.col("cu") != F.col("cv"))
                    .limit(1)
                    .count()
                )
            if crossing == 0:
                break
            mapping = cut_lineage(mapping)
            # contract: communities become super-nodes, parallel edges summed.
            # Intra-community weight becomes a SELF-LOOP row (cu == cv) so the
            # next level's node strengths and 2m stay exact (Blondel et al.
            # phase 2); the local-moving sweep above skips self-edges itself.
            und = (
                und.join(asg.withColumnRenamed("node", "u").withColumnRenamed("community", "cu"), "u")
                .join(asg.withColumnRenamed("node", "v").withColumnRenamed("community", "cv"), "v")
                .groupBy(F.col("cu").alias("u"), F.col("cv").alias("v"))
                .agg(F.sum("w").alias("w"))
            )
            und = cut_lineage(und)
    return mapping


def pagerank(
    edges: DataFrame,
    nodes: DataFrame,
    key_col: str = "n",
    damping: float = 0.85,
    n_iter: int = 5,
) -> DataFrame:
    """PageRank by synchronous power iteration over a directed edge list
    (Brin & Page 1998; the standard aggregate-messages formulation):
    r_{k+1}(v) = (1-d)/N + d·Σ_{u→v} r_k(u)/outdeg(u), fixed ``n_iter``
    rounds from the uniform start. Dangling nodes (outdeg 0) absorb rank
    without redistributing it — the mass-dropping variant, chosen because
    it keeps every step a pure edge-keyed aggregation (the redistribution
    term needs an extra global sum per round); both engines of the parity
    harness compute the same variant, so results are comparable.

    Scale shape: outdeg is one bounded aggregation, checkpointed once;
    each round is edges ⋈ ranks (shuffle on the src key) → dst-keyed sum
    → left join back to the node set, lineage cut per round. Parallelism
    sized from the measured edge count (no-op at cluster scale). Returns
    (``key_col``, rank) after ``n_iter`` rounds, unnormalized-rounded by
    the caller."""
    spark = edges.sparkSession
    e = edges.select(F.col("src").cast("long"), F.col("dst").cast("long"))
    ns = cut_lineage(nodes.select(F.col(key_col).cast("long").alias("n")).distinct())
    n_total = ns.count()
    n_edges = e.count()
    base = (1.0 - damping) / n_total
    # ~100k edge rows per task: measured 2.6-3.0s vs 3.5-5.0s at 500k for
    # 1.17M edges x 5 rounds — iteration latency is task-parallelism-bound
    # well before shuffle volume matters
    with scaled_shuffle_partitions(spark, max(n_edges, n_total), 100_000):
        deg = cut_lineage(e.groupBy("src").agg(F.count("*").alias("od")))
        contrib_src = cut_lineage(e.join(deg, "src").select("src", "dst", F.col("od")))
        r = ns.select("n", F.lit(1.0 / n_total).alias("r"))
        for _ in range(n_iter):
            inflow = (
                contrib_src.join(r.withColumnRenamed("n", "src"), "src")
                .groupBy("dst")
                .agg(F.sum(F.col("r") / F.col("od")).alias("m"))
            )
            r = cut_lineage(
                ns.join(inflow.withColumnRenamed("dst", "n"), "n", "left").select(
                    "n",
                    (F.lit(base) + F.lit(damping) * F.coalesce("m", F.lit(0.0))).alias("r"),
                )
            )
    return r.select(F.col("n").alias(key_col), F.col("r").alias("rank"))


def hits(edges: DataFrame, n_iter: int = 3) -> tuple[DataFrame, DataFrame]:
    """HITS hub/authority scoring (Kleinberg 1999 JACM 46(5)) on a directed
    edge list: per round, authority(v) = Σ_{u→v} hub(u) then L2-normalize,
    hub(u) = Σ_{u→v} authority(v) then L2-normalize, from the all-ones hub
    start. The mutual-reinforcement counterpart of ``pagerank`` — PageRank
    ranks by stationary visiting mass, HITS separates "points at good
    things" (hubs) from "is pointed at by good hubs" (authorities), the
    natural decomposition for bipartite interaction graphs.

    Scale shape (the ``pagerank`` iteration hygiene): each half-round is
    one edge-keyed join + one bounded dst/src-keyed aggregation; the L2
    norm is a 1-row scalar aggregate attached by broadcast cross join
    (the allow-listed bounded pattern); lineage cut per round so the plan
    stays round-local; shuffle parallelism sized from the measured edge
    count. No intermediate rounding — FP noise stays at machine epsilon
    relative (sums are normalized each round, so scale is stable), far
    inside the caller's output rounding window.

    Returns ``(hubs, authorities)`` as (node, score) DataFrames after
    ``n_iter`` rounds."""
    spark = edges.sparkSession
    e = cut_lineage(
        edges.select(F.col("src").cast("long"), F.col("dst").cast("long")).distinct()
    )
    n_edges = e.count()
    with scaled_shuffle_partitions(spark, n_edges, 100_000):
        h = e.select("src").distinct().select("src", F.lit(1.0).alias("h"))
        a = None
        for _ in range(n_iter):
            a_raw = (
                e.join(h, "src")
                .groupBy("dst")
                .agg(F.sum("h").alias("a"))
            )
            a_norm = a_raw.agg(F.sqrt(F.sum(F.col("a") * F.col("a"))).alias("nrm"))
            a = cut_lineage(
                a_raw.crossJoin(F.broadcast(a_norm)).select(
                    "dst", (F.col("a") / F.col("nrm")).alias("a")
                )
            )
            h_raw = (
                e.join(a, "dst")
                .groupBy("src")
                .agg(F.sum("a").alias("h"))
            )
            h_norm = h_raw.agg(F.sqrt(F.sum(F.col("h") * F.col("h"))).alias("nrm"))
            h = cut_lineage(
                h_raw.crossJoin(F.broadcast(h_norm)).select(
                    "src", (F.col("h") / F.col("nrm")).alias("h")
                )
            )
    return (
        h.select(F.col("src").alias("node"), F.col("h").alias("score")),
        a.select(F.col("dst").alias("node"), F.col("a").alias("score")),
    )


def cluster_transition_counts(df: DataFrame, label_a: str, label_b: str) -> DataFrame:
    """Cross-resolution cluster transition edges (reference M7:
    R/wrapper.R:350-359 clustree): count of entities per (label_a, label_b)."""
    return df.groupBy(F.col(label_a).alias("from_label"), F.col(label_b).alias("to_label")).agg(
        F.count("*").alias("n")
    )


def lisi_score(
    knn_edges: DataFrame, labels: DataFrame, key_col: str, label_col: str
) -> DataFrame:
    """Local Inverse Simpson Index per node (reference M11:
    R/integrate.R:188-212 compute_lisi): 1 / Σ p_l² over the label mix of
    each node's KNN neighborhood. Two joins + one agg, no UDF."""
    lab = labels.select(F.col(key_col).alias("dst"), F.col(label_col).alias("lbl"))
    mix = knn_edges.join(lab, "dst").groupBy("src", "lbl").agg(F.count("*").alias("n"))
    wtot = Window.partitionBy("src")
    p2 = mix.withColumn("p", F.col("n") / F.sum("n").over(wtot)).groupBy("src").agg(
        (1.0 / F.sum(F.col("p") * F.col("p"))).alias("lisi")
    )
    return p2


def _centroid_mst(df: DataFrame, array_col: str, cluster_col: str, start_cluster):
    """Cluster centroids + Prim MST from ``start_cluster`` (the skeleton of
    ``principal_curve_pseudotime``). Only the (k × d) centroid matrix
    reaches the driver."""
    cent_rows = mean_vectors(df, cluster_col, to_double_array(array_col)).collect()
    import math as _math

    cents = {r[cluster_col]: r["centroid"] for r in cent_rows}
    ks = sorted(cents)
    if start_cluster not in cents:
        raise ValueError(f"start_cluster {start_cluster!r} not found")

    def d(a, b):
        return _math.sqrt(sum((x - y) ** 2 for x, y in zip(cents[a], cents[b])))

    in_tree, edges = {start_cluster}, []
    while len(in_tree) < len(ks):
        best = min(
            ((a, b, d(a, b)) for a in in_tree for b in ks if b not in in_tree),
            key=lambda t: (t[2], str(t[1])),
        )
        in_tree.add(best[1])
        edges.append(best)
    adj: dict = {}
    for a, b, w in edges:
        adj.setdefault(a, []).append((b, w))
        adj.setdefault(b, []).append((a, w))
    return cents, adj


def principal_curve_pseudotime(
    df: DataFrame,
    key_col: str,
    array_col: str,
    cluster_col: str,
    start_cluster,
    approx_points: int = 50,
    n_iter: int = 2,
) -> DataFrame:
    """Per-lineage principal-curve pseudotime (reference M12:
    R/slingshot.R:8-55 — getLineages + getCurves with ``approx_points``).

    Lineages are the MST paths from the start cluster to each leaf. Each
    lineage's curve starts as the piecewise-linear centroid path resampled
    to `approx_points` vertices, then iterates the principal-curve loop:
    (1) project every lineage cell onto the polyline (vectorized Arrow
    pandas_udf — ~approx_points segment projections per cell, numpy
    batched, no row expansion), (2) refit the curve as the per-bin mean of
    cells ordered by current pseudotime (`approx_points` rank bins — the
    distributed analog of the scatterplot smoother; only the new P × d
    vertex matrix is collected). Pseudotime is cumulative arclength of the
    projection foot.

    Exact rank-binning uses one global sort per lineage; at 100 TB switch
    the binning to percentile_approx boundaries (mergeable sketch, same
    convergence) — the projection step is embarrassingly parallel either
    way. Returns one row per (cell, lineage it belongs to):
    (key, lineage_id, pseudotime).

    Deterministic: no RNG anywhere; ties in the rank sort break on the key.
    tests/test_ml.py checks monotonicity along planted paths and exact
    agreement with a small-N numpy replica of the same algorithm.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    cents, adj = _centroid_mst(df, array_col, cluster_col, start_cluster)
    # lineages: start → each leaf (deg-1 node other than start)
    leaves = [k for k, nb in adj.items() if len(nb) == 1 and k != start_cluster]
    if not leaves and len(cents) == 1:
        leaves = [start_cluster]
    lineages = []
    for leaf in sorted(leaves, key=str):
        # unique tree path start→leaf by DFS
        path, seen = [start_cluster], {start_cluster}
        def walk(u):
            if u == leaf:
                return True
            for v, _w in sorted(adj.get(u, []), key=lambda t: str(t[0])):
                if v not in seen:
                    seen.add(v)
                    path.append(v)
                    if walk(v):
                        return True
                    path.pop()
            return False
        walk(start_cluster)
        lineages.append(path)

    def resample(points: "np.ndarray", P: int) -> "np.ndarray":
        seg = np.linalg.norm(np.diff(points, axis=0), axis=1)
        cum = np.concatenate([[0.0], np.cumsum(seg)])
        if cum[-1] == 0:
            return np.repeat(points[:1], P, axis=0)
        t = np.linspace(0.0, cum[-1], P)
        out = np.empty((P, points.shape[1]))
        for j in range(points.shape[1]):
            out[:, j] = np.interp(t, cum, points[:, j])
        return out

    work = df.select(F.col(key_col).alias("__key"), F.col(cluster_col).alias("__c"),
                     to_double_array(array_col).alias("__v"))
    results = []
    for li, path in enumerate(lineages):
        cells = cut_lineage(work.filter(F.col("__c").isin(list(path))))
        curve = resample(np.array([cents[c] for c in path]), approx_points)
        for _it in range(n_iter + 1):  # final pass projects onto the last refit
            A = curve[:-1]
            D = curve[1:] - A
            seglen = np.linalg.norm(D, axis=1)
            arc = np.concatenate([[0.0], np.cumsum(seglen)])
            denom = np.where(seglen > 0, (seglen ** 2), 1.0)

            @pandas_udf("double")
            def project(vs: pd.Series) -> pd.Series:
                V = np.array(vs.tolist(), dtype=float)
                best_d = np.full(len(V), np.inf)
                best_t = np.zeros(len(V))
                for s in range(len(A)):
                    t = np.clip(((V - A[s]) @ D[s]) / denom[s], 0.0, 1.0)
                    foot = A[s] + t[:, None] * D[s]
                    dd = np.einsum("ij,ij->i", V - foot, V - foot)
                    upd = dd < best_d - 1e-12
                    best_d = np.where(upd, dd, best_d)
                    best_t = np.where(upd, arc[s] + t * seglen[s], best_t)
                return pd.Series(best_t)

            cells = cells.select("__key", "__c", "__v", project("__v").alias("__pt"))
            if _it == n_iter:
                break
            cells = cut_lineage(cells)  # 3 downstream actions reuse the projection
            # refit: per-rank-bin mean vectors become the new polyline
            wrk = Window.orderBy(F.asc("__pt"), F.asc("__key"))
            n = cells.count()
            P = min(approx_points, max(2, n))
            binned = mean_vectors(
                cells.withColumn("__bin", ((F.row_number().over(wrk) - 1) * P / n).cast("int")),
                "__bin",
                "__v",
            ).orderBy("__bin").collect()
            curve = resample(np.array([r["centroid"] for r in binned]), approx_points)
        results.append(
            cells.select(
                F.col("__key").alias(key_col),
                F.lit(li).alias("lineage_id"),
                F.col("__pt").alias("pseudotime"),
            )
        )
    out = results[0]
    for r in results[1:]:
        out = out.unionByName(r)
    return out


def cca_integrate_lite(
    df: DataFrame,
    key_col: str,
    array_col: str,
    batch_col: str,
    n_components: int = 10,
) -> tuple[DataFrame, list[float]]:
    """CCA-style integration, simplified (reference M9: R/integrate.R:125-153
    Seurat IntegrateLayers CCAIntegration — per-batch split, scale, joint
    reduction; `cca_anchor_integrate` adds the anchor-matching step on top
    of this joint space).

    Steps: (1) per-batch per-dimension standardization (removes batch
    location/scale effects — the reference's per-layer ScaleData), then
    (2) joint PCA over the standardized vectors (the shared low-rank
    space CCA approximates when batches share structure). Returns
    (df + `integrated` array column, explained variance ratios)."""
    comp = df.select(
        F.col(key_col).alias("__key"),
        F.col(batch_col).alias("__batch"),
        F.posexplode(to_double_array(array_col)).alias("__d", "__x"),
    )
    wb = Window.partitionBy("__batch", "__d")
    std = comp.withColumn(
        "__z",
        (F.col("__x") - F.avg("__x").over(wb))
        / F.coalesce(F.nullif(F.stddev_samp("__x").over(wb), F.lit(0.0)), F.lit(1.0)),
    )
    assembled = (
        std.groupBy("__key")
        .agg(F.array_sort(F.collect_list(F.struct("__d", "__z"))).alias("__pairs"))
        .select("__key", F.transform("__pairs", lambda p: p["__z"]).alias("__zv"))
    )
    embedded, ratios = pca_embed(assembled, "__zv", n_components=n_components, out_col="integrated")
    out = embedded.select(F.col("__key").alias(key_col), "integrated")
    return df.join(out, key_col), ratios


def _cross_knn(
    a: DataFrame,
    b: DataFrame,
    k: int,
    bucket_length: float = 4.0,
    num_hash_tables: int = 3,
) -> DataFrame:
    """k approximate nearest rows of ``b`` for every row of ``a`` via
    BucketedRandomProjectionLSH: (src from a, dst from b, dist). Both inputs
    are (__key, __v array<double>) frames. The LSH model is a set of seeded
    random projections (data-independent), so fitting on ``a`` alone is
    sound; the join is banded-candidate, never a cross join."""
    wa = _to_vector_col(a, "__v", "__feat").select(F.col("__key"), "__feat")
    wb = _to_vector_col(b, "__v", "__feat").select(F.col("__key"), "__feat")
    model = _fitted_brp_lsh(wa, bucket_length, num_hash_tables)
    pairs = model.approxSimilarityJoin(wa, wb, float("inf"), distCol="dist").select(
        F.col("datasetA.__key").alias("src"), F.col("datasetB.__key").alias("dst"), "dist"
    )
    w = Window.partitionBy("src").orderBy(F.asc("dist"), F.asc("dst"))
    return pairs.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") <= k).drop("__rn")


def mnn_anchors(
    ref: DataFrame,
    q: DataFrame,
    k_anchor: int = 5,
    bucket_length: float = 4.0,
) -> DataFrame:
    """Mutual-nearest-neighbor anchor pairs across two batches (reference
    M9: R/integrate.R:125-153 Seurat FindIntegrationAnchors): k_anchor LSH
    KNN ref→query and query→ref, intersected, then distance-filtered —
    anchors beyond 1.5x the median pair distance straddle structure
    boundaries and are pruned (Seurat's anchor scoring, R/integrate.R:137-146;
    the median is one approxQuantile, a robust scalar). Inputs are
    (__key, __v array<double>) frames; returns (__r, __q, __ad) pairs.
    Both KNN steps are banded LSH joins — never n²."""
    rq = _cross_knn(ref, q, k_anchor, bucket_length).select(
        F.col("src").alias("__r"), F.col("dst").alias("__q"), F.col("dist").alias("__ad")
    )
    qr = _cross_knn(q, ref, k_anchor, bucket_length).select(
        F.col("src").alias("__q"), F.col("dst").alias("__r")
    )
    anchors = rq.join(qr, ["__r", "__q"])
    med = anchors.approxQuantile("__ad", [0.5], 0.001)
    if med:
        anchors = anchors.filter(F.col("__ad") <= 1.5 * med[0])
    return anchors


def cca_anchor_integrate(
    df: DataFrame,
    key_col: str,
    array_col: str,
    batch_col: str,
    n_components: int = 10,
    k_anchor: int = 5,
    k_weight: int = 10,
    n_rounds: int = 2,
    bucket_length: float = 4.0,
) -> DataFrame:
    """CCA-style integration WITH anchor matching (reference M9:
    R/integrate.R:125-153 Seurat CCAIntegration — completes the
    `cca_integrate_lite` simplification with the anchor step that was
    previously flagged out).

    Steps, each a bounded DataFrame op:
      1. joint space: per-batch standardize + joint PCA
         (`cca_integrate_lite` — the shared low-rank space).
      2. anchors: mutual nearest neighbors across batches — k_anchor LSH
         KNN from reference→query and query→reference, intersected. Each
         anchor carries its integration vector z_ref − z_query (Seurat's
         anchor displacement).
      3. correction: every query cell finds its k_weight nearest QUERY-side
         anchor cells (LSH again), weights them by 1/(dist+ε) normalized,
         and adds the weighted mean displacement — locally adaptive, the
         anchor-weighting shape of Seurat's TransformData.
      4. steps 2-3 repeat ``n_rounds`` times on the corrected query cells:
         MNN selection is biased toward cross-batch pairs that are already
         close, so one pass under-corrects by a factor ~bias; re-anchoring
         on the partially-corrected batch geometrically shrinks the
         residual (the same reason Harmony/Seurat iterate).

    The first batch (sorted) is the reference; every other batch is
    corrected toward it independently. All KNN steps are banded LSH joins
    (never n²); per-cell state is k_weight anchors — scale-safe. Cells
    whose LSH probe finds no anchor keep their joint-space coordinates.
    Returns df + `integrated` (anchor-corrected joint embedding).
    """
    joint, _ratios = cca_integrate_lite(df, key_col, array_col, batch_col, n_components)
    base = joint.select(
        F.col(key_col).alias("__key"),
        F.col(batch_col).alias("__batch"),
        to_double_array("integrated").alias("__v"),
    )
    batches = sorted(r[0] for r in base.select("__batch").distinct().collect())
    if len(batches) < 2:
        return df.join(
            base.select(F.col("__key").alias(key_col), F.col("__v").alias("integrated")), key_col
        )
    ref = cut_lineage(base.filter(F.col("__batch") == batches[0]).select("__key", "__v"))
    corrected_parts = [ref.select("__key", F.col("__v").alias("__corr"))]
    for qb in batches[1:]:
        q = cut_lineage(base.filter(F.col("__batch") == qb).select("__key", "__v"))
        for _round in range(n_rounds):
            # mutual nearest neighbors, distance-filtered (shared with the
            # cca_anchor_identity certificate query)
            anchors = mnn_anchors(ref, q, k_anchor, bucket_length).select("__r", "__q")
            # integration vector per anchor: z_ref − z_query, anchored at
            # the query-side cell's position
            avec = (
                anchors.join(
                    ref.select(F.col("__key").alias("__r"), F.col("__v").alias("__zr")), "__r"
                )
                .join(q.select(F.col("__key").alias("__q"), F.col("__v").alias("__zq")), "__q")
                .select(
                    F.col("__q").alias("__key"),
                    F.col("__zq").alias("__v"),
                    F.zip_with("__zr", "__zq", lambda a, b: a - b).alias("__disp"),
                )
            )
            # collapse multiple anchors on the same query cell to one mean
            a_pos = (
                avec.select("__key", "__v", F.posexplode("__disp").alias("__d", "__x"))
                .groupBy("__key", "__d")
                .agg(F.first("__v").alias("__v"), F.avg("__x").alias("__x"))
                .groupBy("__key")
                .agg(
                    F.first("__v").alias("__v"),
                    F.array_sort(F.collect_list(F.struct("__d", "__x"))).alias("__pp"),
                )
                .select("__key", "__v", F.transform("__pp", lambda p: p["__x"]).alias("__disp"))
            )
            a_pos = cut_lineage(a_pos)
            # each query cell → k_weight nearest anchor cells, 1/(dist+eps)
            wk = _cross_knn(q, a_pos.select("__key", "__v"), k_weight, bucket_length)
            weighted = (
                wk.withColumn("__w", 1.0 / (F.col("dist") + F.lit(1e-6)))
                .join(a_pos.select(F.col("__key").alias("dst"), "__disp"), "dst")
                .select("src", "__w", F.posexplode("__disp").alias("__d", "__x"))
                .groupBy("src", "__d")
                .agg((F.sum(F.col("__w") * F.col("__x")) / F.sum("__w")).alias("__cx"))
                .groupBy("src")
                .agg(F.array_sort(F.collect_list(F.struct("__d", "__cx"))).alias("__pp"))
                .select(
                    F.col("src").alias("__key"),
                    F.transform("__pp", lambda p: p["__cx"]).alias("__corrvec"),
                )
            )
            q = cut_lineage(
                q.join(weighted, "__key", "left").select(
                    "__key",
                    F.when(F.col("__corrvec").isNull(), F.col("__v"))
                    .otherwise(F.zip_with("__v", "__corrvec", lambda z, c: z + c))
                    .alias("__v"),
                )
            )
        corrected_parts.append(q.select("__key", F.col("__v").alias("__corr")))
    out = corrected_parts[0]
    for part in corrected_parts[1:]:
        out = out.unionByName(part)
    return df.join(
        out.select(F.col("__key").alias(key_col), F.col("__corr").alias("integrated")), key_col
    )


def classical_mds_2d(
    df: DataFrame,
    key_col: str,
    array_col: str,
    sample_n: int = 500,
    seed: int = 290,
) -> DataFrame:
    """2-D embedding for visualization via classical MDS on a seeded
    deterministic sample (reference M10: R/integrate.R:161-177 RunUMAP —
    SURVEY defers exact UMAP [no native lib] and prescribes a sampled
    applyInPandas embedding as the plot-path fallback; classical MDS is
    the deterministic choice).

    The sample (≤ sample_n rows, md5-seeded per SURVEY §7.2) is embedded
    by double-centering its Gram matrix and taking the top-2 eigenvectors
    (numpy eigh inside a single-group applyInPandas — bulk data never
    leaves DataFrames, the O(n²) matrix is bounded by sample_n).
    Returns (key, mds1, mds2) for the sampled rows."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import DoubleType, StringType, StructField, StructType

    from utils_spark.operators.sampling import random_subset

    sampled = random_subset(df.select(key_col, array_col), key_col, sample_n, seed=seed)
    schema = StructType(
        [
            StructField("key", StringType()),
            StructField("mds1", DoubleType()),
            StructField("mds2", DoubleType()),
        ]
    )

    def embed(pdf: pd.DataFrame) -> pd.DataFrame:
        keys = pdf[key_col].astype(str).to_numpy()
        X = np.array([np.asarray(v, dtype=float) for v in pdf[array_col]])
        n = len(X)
        if n < 3:
            return pd.DataFrame({"key": keys, "mds1": 0.0, "mds2": 0.0})
        sq = (X * X).sum(axis=1)
        d2 = sq[:, None] + sq[None, :] - 2 * (X @ X.T)
        j = np.eye(n) - np.ones((n, n)) / n
        b = -0.5 * j @ d2 @ j
        vals, vecs = np.linalg.eigh(b)
        top = np.argsort(vals)[::-1][:2]
        coords = vecs[:, top] * np.sqrt(np.clip(vals[top], 0, None))
        # deterministic sign convention: largest-|coord| entry positive
        for c in range(2):
            i = int(np.argmax(np.abs(coords[:, c])))
            if coords[i, c] < 0:
                coords[:, c] = -coords[:, c]
        return pd.DataFrame({"key": keys, "mds1": coords[:, 0], "mds2": coords[:, 1]})

    from pyspark.sql import functions as _F

    return (
        sampled.withColumn("__g", _F.lit(1))
        .groupBy("__g")
        .applyInPandas(lambda pdf: embed(pdf.drop(columns="__g")), schema)
    )


def als_factorize(
    df: DataFrame,
    row_col: str,
    col_col: str,
    value_col: str,
    rank: int = 5,
    reg: float = 0.01,
    nonnegative: bool = True,
    max_iter: int = 10,
    seed: int = 290,
) -> tuple[DataFrame, DataFrame]:
    """Low-rank matrix factorization of a long-form (row, col, value)
    matrix via MLlib ALS (reference M20: R/bitfam.R:3-13 — BITFAM infers a
    genes×factors / factors×cells decomposition; alternating least squares
    with nonnegativity is the distributed analog of that factorization,
    flagged non-parity with the variational-Bayes original).

    Scale shape: ALS is the canonical block-partitioned factorization —
    factor blocks co-partition with rating blocks, each half-step is a
    bounded join + normal-equations solve per block, no driver-side
    matrix. Returns (row_factors, col_factors) as (id, features
    array<float>) DataFrames.

    MLlib ALS inherits Spark's int32 id limit: row/col ids above 2^31−1
    would silently wrap when cast (ANSI off) and corrupt the blocks, so
    ids are bounds-checked up front (one tiny agg job). At larger id
    spaces, build a dense int index (zipWithIndex / dense_rank) first."""
    from pyspark.ml.recommendation import ALS

    bounds = df.agg(
        F.max(F.abs(F.col(row_col).cast("long"))).alias("r"),
        F.max(F.abs(F.col(col_col).cast("long"))).alias("c"),
    ).first()
    int_max = 2**31 - 1
    if bounds["r"] is not None and max(bounds["r"], bounds["c"]) > int_max:
        raise ValueError(
            f"als_factorize ids exceed int32 (max |row|={bounds['r']}, "
            f"|col|={bounds['c']}); re-index to a dense int range first"
        )
    ratings = df.select(
        F.col(row_col).cast("int").alias("__row"),
        F.col(col_col).cast("int").alias("__col"),
        F.col(value_col).cast("float").alias("__val"),
    )
    # ALS's factor lineage deepens every iteration and overflows task
    # deserialization stacks beyond ~15 sweeps; MLlib breaks the lineage at
    # checkpointInterval only when the context has a checkpoint dir, so set
    # one (Spark-managed temp) if the caller hasn't.
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is None:
        import tempfile

        sc.setCheckpointDir(tempfile.mkdtemp(prefix="spark-als-ckpt-"))
    als = ALS(
        rank=rank,
        regParam=reg,
        nonnegative=nonnegative,
        maxIter=max_iter,
        seed=seed,
        userCol="__row",
        itemCol="__col",
        ratingCol="__val",
        coldStartStrategy="drop",
    )
    model = als.fit(ratings)
    row_f = model.userFactors.select(F.col("id").alias(row_col), "features")
    col_f = model.itemFactors.select(F.col("id").alias(col_col), "features")
    return row_f, col_f


def _diversity_reweight(soft: DataFrame, theta: float, k: int, n_rounds: int = 2) -> DataFrame:
    """Harmony diversity-penalty fixed point (reference M8:
    R/integrate.R:115-118 theta; Korsunsky et al. 2019 eq. 2).

    Input: (__key, __batch, __v, __r[array of k responsibilities]).
    Each round recomputes the soft batch composition of every cluster —
    O_cb = Σ_{i∈b} r_ic (observed), E_cb = (Σ_i r_ic)·N_b/N (expected
    under batch-proportional mixing) — and reweights CUMULATIVELY
    r_ic ← normalize(r_ic · ((E_cb + ε)/(O_cb + ε))^(θ/n_rounds)).
    The per-round exponent is damped by 1/n_rounds: applying the full θ
    synchronously makes the two-cluster confounded case flip-flop (every
    over-represented cell swaps cluster at once — the distributed analog
    of why the reference updates R in small blocks), while the damped
    cumulative product converges to the batch-mixed fixed point (verified
    in tests: perfectly confounded batches reach ~50/50 composition).
    θ = 0 is a no-op. Only (k × n_batches) aggregate rows shuffle — the
    penalty is scale-free."""
    eps = 1e-9
    expo = theta / float(n_rounds)
    # k is statically known (the responsibility array is built from k
    # centroids), so O_cb / A_c are k SUM columns of ONE groupBy(batch) over
    # the n soft rows (optimization r16, guide §1.2/§2.3): the previous
    # posexplode fanned soft out to n×k rows and paid two aggregations + a
    # join + a collect_list window per round, plus an eager soft.count() job
    # for N. N and A_c now come from a 1-row aggregate of the (batches)-row
    # table — same doubles, same (a·nb)/nt evaluation order, only the
    # partial-sum grouping differs (inside the certificates' 1e-6 rounding
    # slack).
    for _ in range(n_rounds):
        o_cb = soft.groupBy("__batch").agg(
            F.count("*").alias("__nb"),
            *[F.sum(F.col("__r")[c]).alias(f"__o_{c}") for c in range(k)],
        )
        tot = o_cb.agg(
            F.sum("__nb").alias("__nt"),
            *[F.sum(f"__o_{c}").alias(f"__a_{c}") for c in range(k)],
        )
        pen_arr = o_cb.crossJoin(F.broadcast(tot)).select(
            "__batch",
            F.array(
                *[
                    F.pow(
                        (F.col(f"__a_{c}") * F.col("__nb") / F.col("__nt") + eps)
                        / (F.col(f"__o_{c}") + eps),
                        F.lit(expo),
                    )
                    for c in range(k)
                ]
            ).alias("__penv"),
        )
        soft = (
            soft.join(F.broadcast(pen_arr), "__batch")
            .withColumn("__rw", F.zip_with("__r", "__penv", lambda r, p: r * p))
            .withColumn(
                "__r",
                F.transform(
                    "__rw",
                    lambda x: x / F.aggregate("__rw", F.lit(0.0), lambda a, z: a + z),
                ),
            )
            .drop("__rw", "__penv")
        )
    return soft


def harmony_soft(
    df: DataFrame,
    key_col: str,
    array_col: str,
    batch_col: str,
    k: int = 10,
    n_iter: int = 3,
    sigma: float = 0.5,
    theta: float = 0.0,
    seed: int = 290,
) -> DataFrame:
    """Soft-assignment Harmony batch correction (reference M8:
    R/integrate.R:100-123 RunHarmony — soft k-means + per-cluster
    correction, including Harmony's DIVERSITY PENALTY in the clustering
    objective when ``theta > 0``).

    Per iteration: (1) seeded KMeans centroids in the current embedding,
    (2) responsibilities r_ic = softmax(−‖x_i−μ_c‖²/σ), (3) with θ > 0,
    the Harmony diversity penalty (Korsunsky et al. 2019, eq. 2): two
    fixed-point refinements of r_ic ← normalize(r_ic · (E_cb/O_cb)^θ)
    where O_cb = Σ_{i∈b} r_ic is the observed soft batch count of cluster
    c and E_cb = (Σ_i r_ic)·N_b/N its batch-proportional expectation —
    clusters dominated by one batch (O > E) repel that batch's cells,
    driving batch-diverse clusters exactly as the reference's theta does,
    (4) per-(cluster, batch) r-weighted mean offsets from the r-weighted
    cluster mean, (5) x_i ← x_i − Σ_c r_ic·offset_{c,batch(i)}. Centroids
    broadcast (k×d literals). Since optimization r16 the moment step is a
    single groupBy(batch) with k×(dim+1) SUM columns over the n rows — no
    (cell, cluster, dim) fanout rows ever exist (the previous double
    posexplode shuffled n×k×dim rows through three aggregations per
    iteration) — and the correction applies row-locally from a broadcast
    (batches × k × dim) offset matrix. The penalty adds only tiny
    (k×batches) aggregate tables per refinement.

    PRECONDITION: fixed dimensionality (probed once from the first row);
    a row of any other length raises an error instead of yielding NULL
    sums.

    Returns df + `corrected` array column."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    work = df.select(
        F.col(key_col).alias("__key"),
        F.col(batch_col).alias("__batch"),
        to_double_array(array_col).alias("__v"),
    )
    # the embedding dimensionality is static per call — probe it once so the
    # per-(cluster, batch) moments below can be k×dim SUM columns of a single
    # aggregation instead of an n×k×dim posexplode (optimization r16)
    probe = work.select(F.size("__v").alias("s")).first()
    if probe is None and k == 1:
        # empty input: the k>=2 path degrades inside KMeans; match it by
        # returning the empty frame with the corrected column appended
        return df.withColumn("corrected", to_double_array(array_col))
    dim = int(probe["s"]) if probe is not None else 0
    # the dim-wide expression lists are built ONCE, as SQL strings parsed
    # server-side: constructing them from Column operator overloads costs a
    # py4j round trip PER OPERATOR (measured 10.6 s of pure driver-Python
    # per call at dim=64 — more than the whole executor time), while
    # F.expr hands the server one string to parse. Column objects are
    # immutable and reusable across iterations, so the loop pays zero
    # expression-construction cost.
    # the fixed-dimensionality precondition is checked row by row inside the
    # first moment aggregation (no extra job): a ragged or NULL `__v` would
    # otherwise read NULL past its end and silently drop out of the sums
    bsum_aggs = [
        F.expr(
            f"sum(if(size(__v) = {dim}, __resp, raise_error("
            f"'harmony_soft: ragged input, expected {dim} elements per row'))) AS __rw"
        )
    ] + [
        F.expr(f"sum(__resp * __v[{d}]) AS __s_{d}") for d in range(dim)
    ]
    wsum_aggs = [F.expr("sum(__rw) AS __trw")] + [
        F.expr(f"sum(__s_{d}) AS __ts_{d}") for d in range(dim)
    ]
    off_expr = F.expr(
        "array(" + ",".join(f"__s_{d}/__rw - __ts_{d}/__trw" for d in range(dim)) + ") AS __off"
    )
    corrected_expr = F.expr(
        "array("
        + ",".join(
            f"__v[{d}] - (0.0D + "
            + " + ".join(f"__r[{c}]*__offm[{c}][{d}]" for c in range(k))
            + ")"
            for d in range(dim)
        )
        + ") AS __v"
    )
    for it in range(n_iter):
        if k == 1:
            # MLlib KMeans requires k >= 2; with one component the centroid
            # value is irrelevant (softmax over a single logit is exactly 1)
            cents = [[0.0] * dim]
        else:
            vec = work.withColumn("__feat", array_to_vector("__v"))
            model = KMeans(k=k, seed=seed + it, featuresCol="__feat", predictionCol="__c").fit(vec)
            cents = [list(map(float, c)) for c in model.clusterCenters()]
        # centroid literals as one server-parsed SQL string (same py4j
        # economy as above; `repr` round-trips doubles exactly and Spark's
        # `...D` literal parse is correctly rounded, so the bits match
        # F.lit). Non-finite centroids (impossible from KMeans on finite
        # input, but cheap to guard) fall back to the Column path.
        if all(math.isfinite(x) for c in cents for x in c):
            cent_arr = F.expr(
                "array("
                + ",".join("array(" + ",".join(f"{x!r}D" for x in c) + ")" for c in cents)
                + ")"
            )
        else:
            cent_arr = F.array(*[F.array(*[F.lit(x) for x in c]) for c in cents])
        # responsibilities: softmax over -dist²/sigma, numerically stabilized
        d2 = F.transform(cent_arr, lambda mu: sq_l2(F.col("__v"), mu))
        soft = work.withColumn("__d2", d2).withColumn(
            "__logits", F.transform("__d2", lambda z: -z / F.lit(sigma))
        )
        mx = F.array_max("__logits")
        expd = F.transform(soft["__logits"], lambda L: F.exp(L - mx))
        soft = soft.withColumn("__e", expd).withColumn(
            "__r", F.transform("__e", lambda e: e / F.aggregate("__e", F.lit(0.0), lambda a, x: a + x))
        )
        # materialize the responsibilities as DATA before the wide moment
        # aggregation: __r is a deep softmax expression (k×dim centroid
        # literals + stabilization chain), and the k×(dim+1) SUM columns
        # below reference it once each — letting the optimizer inline the
        # softmax that many times is a planning/codegen bomb (measured:
        # batch_correction 22→40 s driver gap at dim=64 without this cut;
        # the old posexplode shape paid the same materialization as shuffle
        # rows instead). One bounded (key, batch, v, r) pass per iteration.
        soft = cut_lineage(soft.select("__key", "__batch", "__v", "__r"))
        if theta > 0:
            soft = _diversity_reweight(soft, theta, k, n_rounds=2)
        # Per-(cluster, batch) weighted moments: one posexplode to (cell,
        # cluster) pairs — a k-fold bounded fanout, as before — but the dim
        # axis folds into dim+1 SUM columns of ONE aggregation (optimization
        # r16, guide §1.2/§2.3 "aggregate before you shuffle"): the previous
        # shape posexploded a second time to n×k×dim rows and ran THREE
        # aggregations plus two joins over that fanout per iteration. The
        # dim+1-column schema stays under spark.sql.codegen.maxFields (100),
        # so the aggregate keeps whole-stage codegen (a single k×(dim+1)-
        # column variant measured SLOWER: codegen falls back past 100
        # fields and every job ships ~2 MB task binaries). The cluster
        # totals (the old wsum) are the batch-sums' sums — mathematically
        # identical, only float partial-sum grouping differs, inside the
        # harmony certificates' 1e-6 rounding slack.
        pairs = soft.select("__batch", "__v", F.posexplode("__r").alias("__c", "__resp"))
        bsum = pairs.groupBy("__c", "__batch").agg(*bsum_aggs)
        wsum = bsum.groupBy("__c").agg(*wsum_aggs)
        # per-batch offset matrix off[c][d] = batch mean − cluster mean,
        # assembled as a (batches × k × dim) broadcastable few-row table
        offm = (
            bsum.join(F.broadcast(wsum), "__c")
            .select("__batch", "__c", off_expr)
            .groupBy("__batch")
            .agg(F.array_sort(F.collect_list(F.struct("__c", "__off"))).alias("__po"))
            .select("__batch", F.transform("__po", lambda p: p["__off"]).alias("__offm"))
        )
        # x_i ← x_i − Σ_c r_ic·off[c][batch(i)] — applied row-local via the
        # broadcast offset matrix against the CHECKPOINTED responsibilities
        # (data column, so the k×dim references are cheap getItems); no
        # per-(cell, cluster, dim) fanout rows ever exist and the heavy side
        # is never exchanged, replacing the old per-dim sum + collect_list/
        # array_sort re-assembly aggregations.
        corrected = soft.join(F.broadcast(offm), "__batch").select(
            "__key", "__batch", corrected_expr
        )
        work = cut_lineage(corrected)
    out = df.join(
        work.select(F.col("__key").alias(key_col), F.col("__v").alias("corrected")), key_col
    )
    return out


def triangle_enumerate(edges: DataFrame) -> DataFrame:
    """Exact triangle enumeration over an undirected edge list — the
    standard two-join wedge-closing shape (each triangle emitted once as
    u < v < w): canonical edges (u < v), wedges from the shared LOWEST
    node, closed against the edge set.

    Scale shape (compact-forward, Latapy 2008 / Suri & Vassilvitskii
    2011's MR adaptation): both joins are equi-keyed (wedge build on the
    low endpoint, closure on the (v, w) pair), so cost is Σ_u deg(u)² for
    the wedge stage — the skew term a degree-ordered orientation bounds
    on power-law graphs; on KNN/SNN graphs deg ≤ k so wedges are O(n·k²).
    Never an unkeyed cartesian. Returns (u, v, w) with u < v < w."""
    e = (
        edges.select(
            F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b")
        )
        .filter(F.col("a") < F.col("b"))
        .distinct()
    )
    w1 = e.select(F.col("a").alias("u"), F.col("b").alias("v"))
    w2 = e.select(F.col("a").alias("u"), F.col("b").alias("w"))
    wedges = w1.join(w2, "u").filter(F.col("v") < F.col("w"))
    closer = e.select(F.col("a").alias("v"), F.col("b").alias("w"))
    return wedges.join(closer, ["v", "w"]).select("u", "v", "w")


def refine_partition(
    edges: DataFrame,
    assignment: DataFrame,
    weight_col: str | None = None,
    resolution: float = 1.0,
    max_iter: int = 10,
) -> DataFrame:
    """Leiden-style REFINEMENT phase (Traag, Waltman & van Eck 2019,
    "From Louvain to Leiden") over a coarse community assignment: within
    each coarse community, re-grow subcommunities from SINGLETONS by
    constrained local moving — a node may only join subcommunities of
    neighbors in its OWN coarse community, and only while it still sits
    in a singleton subcommunity (each node merges at most once per
    refinement, exactly the paper's constraint that prevents the
    ill-connected "bridge node drags a community together" artifact of
    plain Louvain). Greedy deterministic variant: argmax modularity gain
    with (gain desc, id asc) tie-break instead of the paper's randomized
    proportional acceptance, and without the γ-connectivity admission
    test — both simplifications documented; the structural guarantee
    kept is that the output is a true SUBPARTITION of the input (every
    refined community lies inside one coarse community).

    Scale shape: the ``louvain_communities`` sweep
    (``_local_moving_sweep``: one edge⋈assignment join + two bounded aggs
    per sweep) on ``plans.fixpoint``, plus one broadcast-size join
    against the subcommunity-size table for the singleton-origin gate.
    Returns (node, community) with refined ids.
    """
    spark = edges.sparkSession
    und, m = observed_cut(_symmetrize(edges, weight_col))
    parent = assignment.select(
        F.col("node").cast("long").alias("node"), F.col("community").alias("pc")
    )
    # AQE off inside the sweeps for the reason louvain_communities gives:
    # with it on, each sweep submitted its stages as 16-17 jobs on an
    # 8-node graph, against 2 jobs per sweep with it off.
    with scoped_conf(spark, "spark.sql.adaptive.enabled", "false"), scaled_shuffle_partitions(
        spark, m["n"], 100_000
    ), interpreted_execution(spark, m["n"]):
        deg, m = observed_cut(
            und.groupBy("u").agg(F.sum("w").alias("k")), F.sum("k").alias("m2")
        )
        m2 = float(m["m2"] or 0.0)
        if not m2:
            return parent.select("node", F.col("node").alias("community"))
        # parent labels restricted to nodes present in the graph
        par = cut_lineage(
            deg.select(F.col("u").alias("node")).join(parent, "node", "left").select(
                "node", F.coalesce("pc", F.col("node")).alias("pc")
            )
        )
        # same-parent edges only: refinement never crosses coarse borders
        same = cut_lineage(
            und.filter(F.col("u") != F.col("v"))
            .join(par.select(F.col("node").alias("u"), F.col("pc").alias("pu")), "u")
            .join(par.select(F.col("node").alias("v"), F.col("pc").alias("pv")), "v")
            .filter(F.col("pu") == F.col("pv"))
            .select("u", "v", "w")
        )

        def sweep(ref: DataFrame, it: int) -> DataFrame:
            sizes = ref.groupBy("community").agg(F.count("*").alias("sz"))
            best = _local_moving_sweep(*_sweep_candidates(ref, same, deg), deg, m2, resolution)
            # singleton-origin gate: only nodes still alone may merge, under
            # the main loop's parity gate — no cycle is possible anyway
            # because a merged node stops being a singleton and freezes,
            # but the gate keeps the sweep deterministic when two
            # singletons want each other. Without the id-increasing branch
            # the MIN node of a parent community could strand forever
            # (every subcommunity label ≥ its own).
            moves = (F.col("sz") == 1) & (F.col("c_best") != F.col("c_own")) & _parity_gate(it)
            return best.join(
                F.broadcast(sizes.withColumnRenamed("community", "c_own")), "c_own"
            ).select(
                "node",
                F.when(moves, F.col("c_best")).otherwise(F.col("c_own")).alias("community"),
                "c_own",
                "c_best",
                "sz",
            )

        ref, _ = fixpoint(
            sweep,
            deg.select(F.col("u").alias("node"), F.col("u").alias("community")),
            max_iter,
            # converge on DESIRED singleton-origin moves, not executed
            # ones: a parity-blocked desire executes next sweep, while
            # non-singleton desires are frozen by design and must not keep
            # the loop alive
            metrics=(
                F.sum(
                    ((F.col("sz") == 1) & (F.col("c_best") != F.col("c_own"))).cast("long")
                ).alias("d"),
            ),
            until=lambda m: not m["d"],
        )
    return ref
