"""Property tests for ML/graph operators (SURVEY §5: variance ordering,
partition validity, monotone pseudotime — no exact-label oracles)."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def blobs(spark):
    """3 well-separated Gaussian blobs along a 1-D path (FIXTURES.md B7)."""
    rng = np.random.default_rng(290)
    centers = np.array([[0.0] * 8, [10.0] + [0.0] * 7, [20.0] + [0.0] * 7])
    rows = []
    for ci, c in enumerate(centers):
        for j in range(40):
            v = c + rng.normal(scale=0.5, size=8)
            rows.append((ci * 40 + j, f"c{ci}", [float(x) for x in v]))
    return spark.createDataFrame(rows, ["id", "cluster", "vec"])


def test_pca_variance_ordering_and_reconstruction(blobs):
    from utils_spark.operators.ml import pca_embed

    out, ratios = pca_embed(blobs, "vec", n_components=3)
    assert all(ratios[i] >= ratios[i + 1] for i in range(len(ratios) - 1))
    assert ratios[0] > 0.9  # blobs vary along one axis → PC1 dominates
    assert out.select(F.size("pca")).distinct().collect()[0][0] == 3


def test_kmeans_recovers_blobs(blobs):
    from utils_spark.operators.ml import kmeans_clusters

    out = kmeans_clusters(blobs, "vec", k=3, out_col="pred")
    # every true blob maps to exactly one predicted cluster (purity 1.0)
    purity = out.groupBy("cluster").agg(F.countDistinct("pred").alias("n")).collect()
    assert all(r["n"] == 1 for r in purity)


def test_knn_graph_neighbors_are_same_blob(blobs):
    from utils_spark.operators.ml import knn_graph

    edges = knn_graph(blobs, "id", "vec", k=5, bucket_length=4.0)
    per_src = edges.groupBy("src").agg(F.count("*").alias("n")).collect()
    assert all(r["n"] <= 5 for r in per_src)
    assert len(per_src) == 120  # every node got neighbors
    # blob membership by id range: same-blob neighbors for >95% of edges
    same = edges.filter((F.col("src") / 40).cast("int") == (F.col("dst") / 40).cast("int")).count()
    assert same / edges.count() > 0.95


def test_snn_and_label_propagation_partition_blobs(spark, blobs):
    from pyspark.sql import Window

    from utils_spark.operators.ml import knn_graph, label_propagation, snn_graph

    edges = knn_graph(blobs, "id", "vec", k=8, bucket_length=4.0)
    snn = snn_graph(edges, min_shared=2)
    labels = label_propagation(snn, blobs, "id", max_iter=6)
    # validity: every node labeled exactly once
    assert labels.count() == 120
    assert labels.groupBy("node").count().filter("count > 1").count() == 0
    # communities align with blobs: each blob dominated by one label
    joined = labels.join(blobs.select(F.col("id").alias("node"), "cluster"), "node")
    w = Window.partitionBy("cluster").orderBy(F.desc("count"))
    top = (
        joined.groupBy("cluster", "label").count()
        .withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .collect()
    )
    for r in top:
        assert r["count"] >= 30  # ≥75% of each 40-node blob shares one label


def test_lisi_low_for_separated_blobs(blobs):
    from utils_spark.operators.ml import knn_graph, lisi_score

    edges = knn_graph(blobs, "id", "vec", k=8, bucket_length=4.0)
    lisi = lisi_score(edges, blobs, "id", "cluster")
    med = lisi.agg(F.expr("percentile(lisi, 0.5)")).collect()[0][0]
    assert med < 1.2  # neighborhoods are label-pure → LISI ≈ 1



def test_cluster_transition_counts(spark):
    from utils_spark.operators.ml import cluster_transition_counts

    df = spark.createDataFrame(
        [("a", "x"), ("a", "x"), ("a", "y"), ("b", "y")], ["res1", "res2"]
    )
    out = {(r["from_label"], r["to_label"]): r["n"] for r in cluster_transition_counts(df, "res1", "res2").collect()}
    assert out == {("a", "x"): 2, ("a", "y"): 1, ("b", "y"): 1}


def test_cca_integrate_lite_removes_batch_shift(spark):
    import numpy as np

    from utils_spark.operators.ml import cca_integrate_lite

    # batch B = batch A's structure shifted and scaled in every dim;
    # after per-batch standardization + joint PCA the batches must overlap
    rng = np.random.default_rng(5)
    rows = []
    for b, (shift, scale) in (("A", (0.0, 1.0)), ("B", (5.0, 3.0))):
        for ci, center in enumerate([0.0, 8.0]):
            for j in range(30):
                v = rng.normal(scale=0.5, size=6)
                v[0] += center
                v = v * scale + shift
                rows.append((f"{b}{ci}{j}", b, f"c{ci}", [float(x) for x in v]))
    df = spark.createDataFrame(rows, ["id", "batch", "cluster", "vec"])
    out, ratios = cca_integrate_lite(df, "id", "vec", "batch", n_components=2)
    rows_out = out.select("batch", "cluster", F.element_at("integrated", 1).alias("p1")).collect()
    import statistics

    by_batch = {}
    by_cluster = {}
    for r in rows_out:
        by_batch.setdefault(r["batch"], []).append(r["p1"])
        by_cluster.setdefault(r["cluster"], []).append(r["p1"])
    batch_gap = abs(statistics.mean(by_batch["A"]) - statistics.mean(by_batch["B"]))
    cluster_gap = abs(statistics.mean(by_cluster["c0"]) - statistics.mean(by_cluster["c1"]))
    # biological separation must dominate batch separation post-integration
    assert cluster_gap > 5 * batch_gap, (cluster_gap, batch_gap)


def test_classical_mds_preserves_blob_structure(spark, blobs):
    from utils_spark.operators.ml import classical_mds_2d

    out = classical_mds_2d(blobs.withColumn("id", F.col("id").cast("string")), "id", "vec", sample_n=120)
    rows = out.collect()
    assert len(rows) == 120
    # blobs live along one axis → mds1 separates them; blob of each id
    coords = {int(r["key"]): r["mds1"] for r in rows}
    import statistics

    mean_by_blob = [statistics.mean(v for k, v in coords.items() if k // 40 == b) for b in range(3)]
    ordered = sorted(mean_by_blob)
    # the 3 blob means are distinct and well separated in MDS-1
    assert ordered[1] - ordered[0] > 3 and ordered[2] - ordered[1] > 3


def test_knn_graph_recall_vs_brute_force(spark, blobs):
    """ANN quality: LSH KNN must recover >80% of the exact top-5 neighbor
    sets (recall), not merely same-blob membership."""
    import numpy as np

    from utils_spark.operators.ml import knn_graph

    edges = knn_graph(blobs, "id", "vec", k=5, bucket_length=4.0)
    approx = {}
    for r in edges.collect():
        approx.setdefault(r["src"], set()).add(r["dst"])
    rows = blobs.orderBy("id").collect()
    X = np.array([r["vec"] for r in rows])
    d2 = ((X[:, None, :] - X[None, :, :]) ** 2).sum(-1)
    np.fill_diagonal(d2, np.inf)
    hits = total = 0
    for i in range(len(X)):
        exact = set(np.argsort(d2[i])[:5].tolist())
        got = approx.get(i, set())
        hits += len(exact & got)
        total += 5
    assert hits / total > 0.8, f"recall {hits/total:.2f}"


def test_louvain_beats_label_propagation_modularity(spark, blobs):
    """VERDICT r1 item 3: a modularity-optimizing pass must score at least
    as high as label propagation on the same SNN graph, and the partition
    must align with the planted blobs."""
    from utils_spark.operators.ml import (
        knn_graph,
        label_propagation,
        louvain_communities,
        modularity,
        snn_graph,
    )

    edges = knn_graph(blobs, "id", "vec", k=8, bucket_length=4.0)
    snn = snn_graph(edges, min_shared=1).withColumnRenamed("shared", "weight").localCheckpoint()

    lp = label_propagation(snn, blobs, "id", max_iter=6).select(
        "node", F.col("label").alias("community")
    )
    lv = louvain_communities(snn, blobs, "id", weight_col="weight")

    q_lp = modularity(snn, lp, weight_col="weight")
    q_lv = modularity(snn, lv, weight_col="weight")
    assert q_lv >= q_lp - 1e-9, (q_lv, q_lp)
    assert q_lv > 0.5  # 3 well-separated blobs → strongly modular partition

    # each true blob is dominated by a single community
    from pyspark.sql import Window

    joined = lv.join(blobs.select(F.col("id").alias("node"), "cluster"), "node")
    top = (
        joined.groupBy("cluster", "community")
        .count()
        .withColumn("rk", F.row_number().over(Window.partitionBy("cluster").orderBy(F.desc("count"))))
        .filter(F.col("rk") == 1)
        .collect()
    )
    for r in top:
        assert r["count"] >= 30, r


def test_principal_curve_pseudotime_monotone_and_matches_numpy(spark, blobs):
    """VERDICT r1 item 4: per-lineage principal-curve pseudotime must be
    ordered along the planted 1-D path, start at the start cluster, and
    agree numerically with a numpy replica of the identical algorithm."""
    from utils_spark.operators.ml import principal_curve_pseudotime

    P, IT = 12, 2
    got = principal_curve_pseudotime(
        blobs, "id", "vec", "cluster", start_cluster="c0", approx_points=P, n_iter=IT
    ).collect()
    assert {r["lineage_id"] for r in got} == {0}  # a path graph has one lineage
    pt = {r["id"]: r["pseudotime"] for r in got}
    assert len(pt) == 120

    # blob means strictly ordered along the path; start blob near 0
    means = [np.mean([pt[i] for i in range(b * 40, b * 40 + 40)]) for b in range(3)]
    assert means[0] < means[1] < means[2]
    assert min(pt[i] for i in range(40)) < 1.0

    # numpy replica of the same algorithm
    rows = sorted(((r["id"], r["cluster"], r["vec"]) for r in blobs.collect()))
    ids = np.array([r[0] for r in rows])
    X = np.array([r[2] for r in rows])
    clus = np.array([r[1] for r in rows])
    cents = {c: X[clus == c].mean(axis=0) for c in ("c0", "c1", "c2")}
    pathpts = np.array([cents["c0"], cents["c1"], cents["c2"]])

    def resample(points, p):
        seg = np.linalg.norm(np.diff(points, axis=0), axis=1)
        cum = np.concatenate([[0.0], np.cumsum(seg)])
        t = np.linspace(0.0, cum[-1], p)
        return np.stack([np.interp(t, cum, points[:, j]) for j in range(points.shape[1])], axis=1)

    def project(V, curve):
        A, D = curve[:-1], np.diff(curve, axis=0)
        seglen = np.linalg.norm(D, axis=1)
        arc = np.concatenate([[0.0], np.cumsum(seglen)])
        denom = np.where(seglen > 0, seglen**2, 1.0)
        best_d = np.full(len(V), np.inf)
        best_t = np.zeros(len(V))
        for s in range(len(A)):
            t = np.clip(((V - A[s]) @ D[s]) / denom[s], 0.0, 1.0)
            foot = A[s] + t[:, None] * D[s]
            dd = np.einsum("ij,ij->i", V - foot, V - foot)
            upd = dd < best_d - 1e-12
            best_d = np.where(upd, dd, best_d)
            best_t = np.where(upd, arc[s] + t * seglen[s], best_t)
        return best_t

    curve = resample(pathpts, P)
    n = len(X)
    for _ in range(IT):
        ptn = project(X, curve)
        order = np.lexsort((ids, ptn))
        bins = (np.arange(n) * P // n)
        means_by_bin = [X[order][bins == b].mean(axis=0) for b in sorted(set(bins))]
        curve = resample(np.array(means_by_bin), P)
    want = project(X, curve)
    got_arr = np.array([pt[i] for i in ids])
    assert np.allclose(got_arr, want, atol=1e-6), np.abs(got_arr - want).max()


def test_als_factorize_recovers_low_rank(spark):
    """ALS must reconstruct a planted nonnegative low-rank matrix well,
    and more rank must not fit worse."""
    import numpy as np

    from utils_spark.operators.ml import als_factorize

    rng = np.random.default_rng(3)
    U = rng.uniform(0.5, 2.0, size=(40, 3))
    V = rng.uniform(0.5, 2.0, size=(30, 3))
    M = U @ V.T
    rows = [(i, j, float(M[i, j])) for i in range(40) for j in range(30)]
    df = spark.createDataFrame(rows, ["r", "c", "v"])

    def rmse(rank):
        rf, cf = als_factorize(df, "r", "c", "v", rank=rank, max_iter=10)
        ru = {x["r"]: np.array(x["features"]) for x in rf.collect()}
        cv = {x["c"]: np.array(x["features"]) for x in cf.collect()}
        err = [(float(ru[i] @ cv[j]) - M[i, j]) ** 2 for i in range(40) for j in range(30)]
        return float(np.sqrt(np.mean(err)))

    e1, e5 = rmse(1), rmse(5)
    scale = float(M.mean())
    assert e5 < 0.05 * scale, (e5, scale)  # rank>=true rank reconstructs
    assert e5 < e1  # underfitting rank-1 is worse


def test_harmony_soft_reduces_batch_separation(spark):
    import numpy as np

    from utils_spark.operators.ml import harmony_soft

    rng = np.random.default_rng(7)
    rows = []
    for b, off in (("A", 0.0), ("B", 3.0)):
        for ci, center in enumerate([0.0, 12.0]):
            for j in range(25):
                v = rng.normal(scale=0.4, size=4)
                v[0] += center
                v[1] += off
                v[2] += off
                rows.append((f"{b}{ci}{j}", b, [float(x) for x in v]))
    df = spark.createDataFrame(rows, ["id", "batch", "vec"])

    def batch_gap(frame, col):
        means = (
            frame.select("batch", F.posexplode(col).alias("d", "x"))
            .filter(F.col("d") == 1)
            .groupBy("batch")
            .agg(F.avg("x").alias("m"))
            .collect()
        )
        vals = {r["batch"]: r["m"] for r in means}
        return abs(vals["A"] - vals["B"])

    before = batch_gap(df, "vec")
    corrected = harmony_soft(df, "id", "vec", "batch", k=2, n_iter=2, sigma=1.0)
    after = batch_gap(corrected, "corrected")
    assert before > 2.5
    assert after < before * 0.25, (before, after)


def test_harmony_soft_rejects_ragged_input(spark):
    """The fixed-dimensionality precondition fails loudly: one short
    embedding row raises instead of dropping out of the moment sums. k=1
    is the path without KMeans, whose fit would reject the row itself."""
    from utils_spark.operators.ml import harmony_soft

    rows = [(f"{b}{j}", b, [float(j), float(j % 3), 1.0, 0.5]) for b in "AB" for j in range(10)]
    rows.append(("short", "A", [1.0, 2.0]))
    df = spark.createDataFrame(rows, ["id", "batch", "vec"])
    with pytest.raises(Exception, match="ragged input"):
        harmony_soft(df, "id", "vec", "batch", k=1, n_iter=1, sigma=1.0).collect()


def test_harmony_diversity_penalty_mixes_confounded_batches(spark):
    """Reference M8 theta (R/integrate.R:115-118): when batch is CONFOUNDED
    with cluster structure (each soft cluster ~one batch), the penalty-free
    correction is ~zero (batch mean ≈ cluster mean), while the diversity
    penalty forces batch-diverse responsibilities and removes the shift."""
    import numpy as np

    from utils_spark.operators.ml import harmony_soft

    rng = np.random.default_rng(11)
    rows = []
    for b, off in (("A", 0.0), ("B", 20.0)):
        for j in range(50):
            v = rng.normal(scale=0.5, size=4)
            v[1] += off
            rows.append((f"{b}{j}", b, [float(x) for x in v]))
    df = spark.createDataFrame(rows, ["id", "batch", "vec"])

    def batch_gap(frame, col):
        means = (
            frame.select("batch", F.posexplode(col).alias("d", "x"))
            .filter(F.col("d") == 1)
            .groupBy("batch")
            .agg(F.avg("x").alias("m"))
            .collect()
        )
        vals = {r["batch"]: r["m"] for r in means}
        return abs(vals["A"] - vals["B"])

    before = batch_gap(df, "vec")
    plain = harmony_soft(df, "id", "vec", "batch", k=2, n_iter=1, sigma=50.0, theta=0.0)
    diverse = harmony_soft(df, "id", "vec", "batch", k=2, n_iter=1, sigma=50.0, theta=2.0)
    gap_plain = batch_gap(plain, "corrected")
    gap_diverse = batch_gap(diverse, "corrected")
    assert before > 15.0
    # penalty-free: clusters = batches, correction can't see the shift
    assert gap_plain > before * 0.5, (before, gap_plain)
    # diversity penalty: responsibilities mix the batches, shift removed
    assert gap_diverse < before * 0.2, (before, gap_diverse)
    assert gap_diverse < gap_plain * 0.5


def test_cca_anchor_integration_removes_cluster_dependent_batch_shift(spark):
    """Reference M9 anchors (R/integrate.R:125-153): a batch effect that
    shifts blob 0 one way and blob 1 the other has zero batch-mean, so
    per-batch standardization (cca_integrate_lite) cannot remove it — but
    mutual-nearest-neighbor anchors correct each neighborhood locally."""
    import collections

    import numpy as np

    from utils_spark.operators.ml import cca_anchor_integrate, cca_integrate_lite

    rng = np.random.default_rng(5)
    rows = []
    for b in ("A", "B"):
        for ci, c0 in enumerate((0.0, 10.0)):
            for j in range(40):
                v = rng.normal(scale=0.4, size=4)
                v[0] += c0
                if b == "B":
                    v[1] += 3.0 if ci == 0 else -3.0
                rows.append((f"{b}{ci}{j}", b, ci, [float(x) for x in v]))
    df = spark.createDataFrame(rows, ["id", "batch", "blob", "vec"])

    def stats(frame, col):
        m = (
            frame.select("blob", "batch", F.posexplode(col).alias("d", "x"))
            .groupBy("blob", "batch", "d")
            .agg(F.avg("x").alias("m"))
            .collect()
        )
        cent = collections.defaultdict(dict)
        for r in m:
            cent[(r["blob"], r["batch"])][r["d"]] = r["m"]
        gap = np.mean(
            [
                np.linalg.norm(
                    np.array([cent[(blob, "A")][d] for d in sorted(cent[(blob, "A")])])
                    - np.array([cent[(blob, "B")][d] for d in sorted(cent[(blob, "B")])])
                )
                for blob in (0, 1)
            ]
        )
        blob_a = np.array([cent[(0, "A")][d] for d in sorted(cent[(0, "A")])])
        blob_b = np.array([cent[(1, "A")][d] for d in sorted(cent[(1, "A")])])
        return float(gap), float(np.linalg.norm(blob_a - blob_b))

    lite, _ = cca_integrate_lite(df, "id", "vec", "batch", n_components=4)
    anchored = cca_anchor_integrate(
        df, "id", "vec", "batch", n_components=4, k_anchor=15, k_weight=20, n_rounds=2
    )
    gap_lite, _sep_lite = stats(lite, "integrated")
    gap_anch, sep_anch = stats(anchored, "integrated")
    # anchors remove the cluster-dependent shift standardization cannot
    assert gap_anch < gap_lite * 0.5, (gap_lite, gap_anch)
    # biological (blob) structure survives the correction
    assert sep_anch > 1.0, sep_anch


def test_empty_input_guards(spark):
    """ADVICE r2: empty edge lists / empty embedding frames must not crash
    with None-subscript errors — they return trivial results."""
    from utils_spark.operators.ml import modularity
    from utils_spark.operators.similarity import hyperplane_lsh_candidates

    empty_edges = spark.createDataFrame([], "u long, v long")
    asg = spark.createDataFrame([], "node long, community long")
    assert modularity(empty_edges, asg) == 0.0

    empty_vecs = spark.createDataFrame([], "id string, embedding array<double>")
    cand = hyperplane_lsh_candidates(empty_vecs, "id", "embedding")
    assert cand.columns == ["key_a", "key_b"]
    assert cand.count() == 0


def test_als_factorize_rejects_int64_ids(spark):
    """MLlib ALS ids must fit int32; ids past 2^31-1 raise instead of
    silently wrapping (ADVICE r2)."""
    import pytest as _pytest

    from utils_spark.operators.ml import als_factorize

    df = spark.createDataFrame([(2**31, 1, 1.0), (5, 2, 2.0)], ["r", "c", "v"])
    with _pytest.raises(ValueError, match="int32"):
        als_factorize(df, "r", "c", "v", rank=2, max_iter=1)


def test_classifier_scoring_survives_observation_state(spark, sf_dir):
    """Spark 4.1 serialization trap (caught by the round-6 full suite):
    once any Observation is used in a session (the Louvain sweeps ride
    their probes on observe() metrics), the SparkSession holds a
    non-serializable ObservationManager — and LogisticRegressionModel
    .transform's UDF closure captures model → trainingSummary → session,
    making every subsequent scoring task unserializable. The classifier
    gate therefore scores with raw coefficient EXPRESSIONS, never
    model.transform. This test pins the exact failure order:
    observation-using query first, classifier after, same session."""
    from utils_spark.registry import load_all

    reg = load_all()
    reg["louvain_communities"].fn(spark, sf_dir).collect()  # uses observe()
    rows = reg["quality_classifier_filter"].fn(spark, sf_dir).collect()
    assert rows and rows[0]["accuracy"] == 1.0


def test_refine_partition_is_subpartition(spark):
    """The structural guarantee the Leiden refinement phase keeps even in
    the greedy deterministic variant: the refined assignment is a true
    SUBPARTITION of the coarse one (every refined community lies inside
    exactly one coarse community), and refinement never merges across a
    coarse border even when the bridge makes the cross merge
    positive-gain (w=2: gain(3→{10}) = 2/28 − 25/784 > 0, so
    unconstrained local moving WOULD take it — the same-parent
    constraint must forbid it). Graph: two 4-cliques + the bridge,
    coarse labels keeping the cliques apart."""
    import itertools

    from utils_spark.operators.ml import refine_partition

    edges = [(a, b, 1.0) for a, b in itertools.combinations([0, 1, 2, 3], 2)]
    edges += [(a, b, 1.0) for a, b in itertools.combinations([10, 11, 12, 13], 2)]
    edges += [(3, 10, 2.0)]  # cross-tempting bridge: must NOT be crossed
    e = spark.createDataFrame(edges, ["u", "v", "w"])
    coarse = spark.createDataFrame(
        [(n, 0) for n in [0, 1, 2, 3]] + [(n, 10) for n in [10, 11, 12, 13]],
        ["node", "community"],
    )
    ref = refine_partition(e, coarse, weight_col="w")
    got = {r.node: r.community for r in ref.collect()}
    # subpartition: refined community of any node maps to ONE coarse side
    coarse_of = {n: (0 if n < 10 else 10) for n in got}
    by_ref = {}
    for n, rc in got.items():
        by_ref.setdefault(rc, set()).add(coarse_of[n])
    assert all(len(sides) == 1 for sides in by_ref.values()), by_ref
    # within each clique the singleton-origin merges rebuild the clique
    # (exact label depends on merge order; one community per clique)
    left = {got[n] for n in [0, 1, 2, 3]}
    right = {got[n] for n in [10, 11, 12, 13]}
    assert len(left) == 1 and len(right) == 1 and left != right, (left, right)


def test_knn_graph_hot_bucket_salting_output_identity(spark, monkeypatch):
    """r15 skew fix differential: the occupancy-adaptive salted path must
    return the IDENTICAL edge set (src, dst, dist — exact doubles) as the
    single-path plan. The data packs every point into one giant LSH bucket
    per table (bucket_length far above the value spread), so lowering the
    hot threshold forces the salted twin; the default threshold keeps the
    r14 single path on the same rows. Structurally pins only that BOTH
    merge-join twins (cold + salted) are present; the no-exchange-between-
    join-and-window wire property is pinned for the single path in
    tests/test_plans.py (ADVICE r15: this test's assertion never checked
    it, so the docstring no longer claims it)."""
    import utils_spark.operators.ml as ml

    df = spark.range(600).select(
        F.col("id").alias("k"),
        F.array(
            (F.col("id") % 7).cast("double"), (F.col("id") % 3).cast("double")
        ).alias("v"),
    )
    base = {tuple(r) for r in ml.knn_graph(df, "k", "v", k=5, bucket_length=100.0).collect()}
    monkeypatch.setattr(ml, "_HOT_BUCKET_OCCUPANCY", 50)
    monkeypatch.setattr(ml, "_TARGET_SLICE_OCCUPANCY", 64)
    salted_df = ml.knn_graph(df, "k", "v", k=5, bucket_length=100.0)
    salted = {tuple(r) for r in salted_df.collect()}
    assert salted == base
    # structural pin: two merge joins (cold + salted twin)
    plan = salted_df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("SortMergeJoin") >= 2, plan[:2000]
