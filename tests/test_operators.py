"""Unit tests for the generic operator library on tiny literal DataFrames,
with scipy/statsmodels-style oracles where the semantics are statistical
(SURVEY §5 test plan: small-N scientific-python oracles for non-SQL ops).
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F


def _bh_reference(pvals):
    """R p.adjust(method='BH') reference implementation (scipy absent)."""
    n = len(pvals)
    order = sorted(range(n), key=lambda i: -pvals[i])  # descending
    adj, cummin = [0.0] * n, float("inf")
    for rank_from_top, i in enumerate(order):
        r = n - rank_from_top  # ascending rank of p_i
        cummin = min(cummin, pvals[i] * n / r)
        adj[i] = min(1.0, cummin)
    return adj


def test_bh_adjust_matches_reference(spark):
    from utils_spark.operators import bh_adjust

    pvals = [0.01, 0.04, 0.03, 0.005, 0.55, 0.01, 1.0, 0.2]
    df = spark.createDataFrame([(i, p) for i, p in enumerate(pvals)], ["id", "p"])
    got = {r["id"]: r["p_adjusted"] for r in bh_adjust(df, "p", tiebreak_col="id").collect()}
    want = _bh_reference(pvals)
    for i, w in enumerate(want):
        assert math.isclose(got[i], w, rel_tol=1e-12), (i, got[i], w)


def test_bh_adjust_per_family(spark):
    from utils_spark.operators import bh_adjust

    rows = [("a", 0.01), ("a", 0.02), ("b", 0.5), ("b", 0.01)]
    df = spark.createDataFrame(rows, ["fam", "p"])
    out = bh_adjust(df, "p", family_cols=["fam"]).collect()
    by_fam = {}
    for r in out:
        by_fam.setdefault(r["fam"], []).append(r["p_adjusted"])
    assert max(by_fam["a"]) <= 0.02 + 1e-12  # n=2 families adjusted independently
    assert any(abs(x - 0.02) < 1e-12 for x in by_fam["b"])  # 0.01*2/1


def test_mad_outlier_flags_matches_r_semantics(spark):
    import numpy as np

    from utils_spark.operators import mad_outlier_flags

    vals = [10.0, 11.0, 12.0, 10.5, 11.5, 100.0, -50.0, 10.2, 11.8, 10.9]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], ["id", "x"])
    out = {r["id"]: r["is_outlier"] for r in mad_outlier_flags(df, "x").collect()}
    med = np.median(vals)
    mad = np.median(np.abs(np.array(vals) - med)) * 1.4826
    for i, v in enumerate(vals):
        assert out[i] == (v < med - 3 * mad or v > med + 3 * mad)


def test_mad_outlier_one_sided(spark):
    from utils_spark.operators import mad_outlier_flags

    vals = [10.0, 11.0, 12.0, 10.5, 11.5, 100.0, -50.0]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], ["id", "x"])
    lower_only = {r["id"]: r["is_outlier"] for r in mad_outlier_flags(df, "x", upper=False).collect()}
    assert lower_only[6] and not lower_only[5]


def _ks_2samp_stat(a, b):
    """Exact two-sample KS D statistic (scipy absent): max ECDF gap over
    the pooled distinct values."""
    pooled = sorted(set(a) | set(b))
    na, nb = len(a), len(b)
    return max(
        abs(sum(1 for x in a if x <= v) / na - sum(1 for x in b if x <= v) / nb) for v in pooled
    )


def test_pairwise_ks_matches_reference(spark):
    from utils_spark.operators import pairwise_ks_test

    a = [1.0, 2.0, 3.0, 4.0, 5.0, 2.5, 3.5]
    b = [2.0, 4.0, 6.0, 8.0, 7.0, 5.5]
    rows = [("a", v) for v in a] + [("b", v) for v in b]
    df = spark.createDataFrame(rows, ["g", "v"])
    r = pairwise_ks_test(df, "v", "g").collect()[0]
    assert math.isclose(r["ks_stat"], _ks_2samp_stat(a, b), rel_tol=1e-12)
    assert r["n_a"] == len(a) and r["n_b"] == len(b)


def test_strict_aggregates_poison_on_null(spark):
    """strict_mean/strict_sum must return NULL when any input is NULL
    (R default na.rm=FALSE) and the plain aggregate otherwise."""
    from utils_spark.functions import strict_mean, strict_sum

    df = spark.createDataFrame(
        [("a", 1.0), ("a", None), ("a", 3.0), ("b", 2.0), ("b", 4.0)], ["g", "v"]
    )
    rows = {
        r["g"]: r
        for r in df.groupBy("g")
        .agg(strict_mean("v").alias("m"), strict_sum("v").alias("s"))
        .collect()
    }
    assert rows["a"]["m"] is None and rows["a"]["s"] is None
    assert rows["b"]["m"] == 3.0 and rows["b"]["s"] == 6.0


def test_pairwise_ks_one_sided_matches_reference(spark):
    """One-sided alternatives follow the scipy/R convention (group_a is the
    first sample): greater -> D+ = max(F_a - F_b), less -> D- = max(F_b - F_a),
    p = exp(-2 D^2 n_a n_b/(n_a+n_b)). Checked against a pooled-ECDF
    reference implementation (and scipy when available)."""
    from utils_spark.operators import pairwise_ks_test

    a = [1.0, 2.0, 3.0, 4.0, 5.0, 2.5, 3.5]
    b = [2.0, 4.0, 6.0, 8.0, 7.0, 5.5]
    rows = [("a", v) for v in a] + [("b", v) for v in b]
    df = spark.createDataFrame(rows, ["g", "v"])

    def ref(side):
        pooled = sorted(set(a) | set(b))
        na, nb = len(a), len(b)
        diffs = [
            sum(1 for x in a if x <= v) / na - sum(1 for x in b if x <= v) / nb for v in pooled
        ]
        d = max(0.0, max(diffs) if side == "greater" else max(-x for x in diffs))
        return d, math.exp(-2 * d * d * na * nb / (na + nb))

    for side in ("greater", "less"):
        r = pairwise_ks_test(df, "v", "g", alternative=side).collect()[0]
        d_ref, p_ref = ref(side)
        assert math.isclose(r["ks_stat"], d_ref, rel_tol=1e-12), (side, r["ks_stat"], d_ref)
        assert math.isclose(r["p_asymptotic"], p_ref, rel_tol=1e-12)
        try:  # cross-check against scipy when the env has it
            from scipy.stats import ks_2samp

            s = ks_2samp(a, b, alternative=side, method="asymp")
            assert math.isclose(r["ks_stat"], s.statistic, rel_tol=1e-9)
        except ImportError:
            pass

    import pytest as _pytest

    with _pytest.raises(ValueError):
        pairwise_ks_test(df, "v", "g", alternative="bogus")


def test_stratified_sample_exact_and_deterministic(spark):
    from utils_spark.operators import stratified_sample_exact

    rows = [(f"k{i}", "g1" if i < 20 else "g2") for i in range(30)]
    df = spark.createDataFrame(rows, ["key", "grp"])
    s1 = stratified_sample_exact(df, "grp", "key", 5, seed=7)
    s2 = stratified_sample_exact(df.repartition(13), "grp", "key", 5, seed=7)
    r1 = sorted((r["grp"], r["key"]) for r in s1.collect())
    r2 = sorted((r["grp"], r["key"]) for r in s2.collect())
    assert r1 == r2, "sample must be independent of partitioning"
    from collections import Counter

    c = Counter(g for g, _ in r1)
    assert c == {"g1": 5, "g2": 5}
    s3 = sorted(
        (r["grp"], r["key"]) for r in stratified_sample_exact(df, "grp", "key", 5, seed=8).collect()
    )
    assert s3 != r1, "different seed must give a different sample"


def test_small_stratum_keeps_all(spark):
    from utils_spark.operators import stratified_sample_exact

    df = spark.createDataFrame([("a", "g")], ["key", "grp"])
    assert stratified_sample_exact(df, "grp", "key", 500).count() == 1


def test_with_unique_names(spark):
    from utils_spark.operators import with_unique_names

    df = spark.createDataFrame(
        [(1, "x"), (2, "x"), (3, "y"), (4, "x")], ["id", "name"]
    )
    out = {r["id"]: r["uniq"] for r in with_unique_names(df, "name", "id", "uniq").collect()}
    assert out == {1: "x", 2: "x.1", 3: "y", 4: "x.2"}


def test_check_functional_dependency(spark):
    from utils_spark.operators import check_functional_dependency

    ok = spark.createDataFrame([("c1", "t1"), ("c1", "t1"), ("c2", "t2")], ["cluster", "top"])
    bad = spark.createDataFrame([("c1", "t1"), ("c1", "t2")], ["cluster", "top"])
    assert check_functional_dependency(ok, "cluster", "top").count() == 0
    v = check_functional_dependency(bad, "cluster", "top").collect()
    assert len(v) == 1 and v[0]["n_labels"] == 2


def test_pivot_membership(spark):
    from utils_spark.operators import pivot_membership

    df = spark.createDataFrame([("g1", "A"), ("g1", "B"), ("g2", "B"), ("g2", "B")], ["gene", "set"])
    out = {r["gene"]: (r["A"], r["B"], r["C"]) for r in pivot_membership(df, "gene", "set", ["A", "B", "C"]).collect()}
    assert out == {"g1": (1, 1, 0), "g2": (0, 1, 0)}


def test_per_entity_qc_subsets(spark):
    from utils_spark.operators import per_entity_qc

    rows = [
        ("c1", "MT-CO1", 10.0),
        ("c1", "GAPDH", 30.0),
        ("c1", "RPS1", 0.0),
        ("c2", "MT-CO1", 0.0),
        ("c2", "GAPDH", 5.0),
    ]
    df = spark.createDataFrame(rows, ["cell", "gene", "count"])
    out = {
        r["cell"]: r
        for r in per_entity_qc(
            df, "cell", "count", subset_patterns={"mito": "^MT-"}, feature_col="gene"
        ).collect()
    }
    assert out["c1"]["total"] == 40.0 and out["c1"]["detected"] == 2
    assert math.isclose(out["c1"]["subsets_mito_percent"], 25.0)
    assert out["c2"]["subsets_mito_percent"] == 0.0


def test_module_score(spark):
    from utils_spark.operators import module_score

    rows = [("e1", "a", 4.0), ("e1", "b", 2.0), ("e1", "c", 1.0), ("e2", "a", 1.0), ("e2", "c", 5.0)]
    df = spark.createDataFrame(rows, ["ent", "feat", "v"])
    out = {r["ent"]: r["module_score"] for r in module_score(df, "ent", "feat", "v", ["a", "b"], ["c"]).collect()}
    assert math.isclose(out["e1"], 3.0 - 1.0)
    assert math.isclose(out["e2"], 1.0 - 5.0)


def test_log_normalize(spark):
    from utils_spark.operators.qc import log_normalize

    rows = [("c1", 10.0), ("c1", 30.0), ("c2", 5.0), ("c2", 15.0)]
    df = spark.createDataFrame(rows, ["cell", "v"])
    out = log_normalize(df, "cell", "v").collect()
    # totals: c1=40, c2=20; mean=30 → sf(c1)=4/3, sf(c2)=2/3
    for r in out:
        sf = 40 / 30 if r["cell"] == "c1" else 20 / 30
        assert math.isclose(r["log_norm"], math.log2(r["v"] / sf + 1), rel_tol=1e-12)


def test_exact_dedup(spark):
    from utils_spark.operators import exact_dedup

    rows = [(1, "aa"), (2, "aa"), (3, "bb"), (4, "aa")]
    df = spark.createDataFrame(rows, ["id", "txt"])
    out = sorted(r["id"] for r in exact_dedup(df, ["txt"], "id").collect())
    assert out == [1, 3]


def test_duplicate_clusters(spark):
    from utils_spark.operators import duplicate_clusters

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (8, 9), (9, 10), (10, 11)], ["key_a", "key_b"]
    )
    out = {r["key"]: r["component"] for r in duplicate_clusters(edges).collect()}
    assert out[1] == out[2] == out[3] == 1
    assert out[5] == out[6] == 5
    assert out[8] == out[9] == out[10] == out[11] == 8


def test_star_cc_long_chain_logarithmic(spark):
    """The large-star/small-star algorithm's reason to exist (VERDICT r6
    item 6): a 300-node PATH — the worst case for min-label propagation,
    which moves the min one hop per round and would need 299 rounds —
    must fully resolve within max_iter=10 ≈ ceil(log2 300) + 1, the
    O(log n) bound of Kiveris et al. 2014. Correctness at that cap IS
    the round-count certificate: an unconverged run leaves interior
    nodes pointing at non-roots."""
    from utils_spark.operators.dedup import connected_components_star

    edges = spark.createDataFrame([(i, i + 1) for i in range(299)], ["key_a", "key_b"])
    out = {r.key: r.component for r in connected_components_star(edges, max_iter=10).collect()}
    assert len(out) == 300 and set(out.values()) == {0}, sorted(set(out.values()))[:5]


def test_star_cc_matches_union_find_fuzz(spark):
    """Star CC vs a union-find reference on a seeded random multi-component
    graph (parallel edges, reversed duplicates, self-loops included)."""
    import random

    from utils_spark.operators.dedup import connected_components_star

    rng = random.Random(290)
    raw = [(rng.randrange(120), rng.randrange(120)) for _ in range(140)]
    parent = list(range(120))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in raw:
        parent[find(a)] = find(b)
    touched = sorted({n for e in raw if e[0] != e[1] for n in e})
    want = {}
    for n in touched:
        root = find(n)
        rep = min(m for m in touched if find(m) == root)
        want[n] = rep
    edges = spark.createDataFrame(raw, ["key_a", "key_b"])
    got = {r.key: r.component for r in connected_components_star(edges).collect()}
    assert got == want


def test_minhash_lsh_finds_near_dup(spark):
    from utils_spark.operators import minhash_lsh_candidates

    base = "the quick brown fox jumps over the lazy dog and keeps on running far away"
    near = base.replace("lazy", "hazy")
    other = "completely different content with no overlap whatsoever in any shingle at all"
    df = spark.createDataFrame([(1, base), (2, near), (3, other)], ["id", "text"])
    pairs = minhash_lsh_candidates(df, "text", "id", min_est_jaccard=0.3).collect()
    got = {(r["key_a"], r["key_b"]) for r in pairs}
    assert (1, 2) in got
    assert all(3 not in p for p in got)


def test_lsh_verified_pairs_exact(spark):
    """lsh_verified_pairs must return exactly the true-Jaccard >= threshold
    pairs: LSH recall on near-identical docs, exact verify rejecting
    moderate-overlap candidates."""
    from utils_spark.operators.dedup import lsh_verified_pairs

    base = "the quick brown fox jumps over the lazy dog and keeps on running far away"
    near = base.replace("lazy", "hazy")  # ~0.9 jaccard: must pair
    half = base[: len(base) // 2] + " entirely novel second half of this document here"
    other = "completely different content with no overlap whatsoever in any shingle at all"
    df = spark.createDataFrame([(1, base), (2, near), (3, half), (4, other)], ["id", "text"])
    got = {
        (r["key_a"], r["key_b"])
        for r in lsh_verified_pairs(df, "text", "id", min_jaccard=0.8).collect()
    }
    assert got == {(1, 2)}, got


def test_cosine_topk_exact(spark):
    import numpy as np

    from utils_spark.operators import cosine_topk

    rng = np.random.default_rng(42)
    vecs = rng.normal(size=(20, 8)).astype(float)
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(20)]
    df = spark.createDataFrame(rows, ["id", "embedding"])
    q = df.filter(F.col("id") == 0)
    out = [r["neighbor_id"] for r in cosine_topk(q, df, "id", "id", k=3, round_digits=None).orderBy(F.desc("cosine")).collect()]
    norms = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = norms @ norms[0]
    sims[0] = -np.inf
    want = list(np.argsort(-sims)[:3])
    assert out == want


def test_cosine_topk_rejects_one_sided_label(spark):
    """Label exclusion needs both label columns; one alone used to be ignored."""
    from utils_spark.operators import cosine_topk

    df = spark.createDataFrame([(1, "a", [1.0, 0.0]), (2, "b", [0.0, 1.0])], ["id", "label", "embedding"])
    for labels in ({"query_label": "label"}, {"corpus_label": "label"}):
        with pytest.raises(ValueError, match="together"):
            cosine_topk(df, df, "id", "id", k=1, **labels)


def test_topk_per_key_exact_under_ties_and_skew(spark):
    """The shared top-k equals a Python sort-and-cut reference on heavy
    ties (4 distinct scores, broken by id), one key holding most rows,
    and keys with fewer than k rows, over shuffled multi-partition input
    so the map-side partial top-k (WindowGroupLimit) cuts each partition
    before the merge."""
    import random

    from utils_spark.operators.similarity import topk_per_key

    k = 7
    sizes = {0: 3000, 1: 2, 2: 2, 3: 5, 4: 40}
    rows = [(q, i, (i * 7 % 4) / 4.0) for q, n in sizes.items() for i in range(n)]
    random.Random(0).shuffle(rows)  # ties must be broken by the order, not by arrival
    df = spark.createDataFrame(rows, "q int, id int, score double").repartition(3)
    out = topk_per_key(df, "q", (F.desc("score"), F.asc("id")), k)
    assert "WindowGroupLimit" in out._jdf.queryExecution().executedPlan().toString()
    got = sorted(tuple(r) for r in out.collect())
    want = sorted(
        r for q in sizes for r in sorted((r for r in rows if r[0] == q), key=lambda r: (-r[2], r[1]))[:k]
    )
    assert got == want
    assert {q: sum(1 for r in got if r[0] == q) for q in sizes} == {q: min(n, k) for q, n in sizes.items()}


def test_zscore_per_group(spark):
    import numpy as np

    from utils_spark.operators import zscore_per_group

    vals = [1.0, 2.0, 3.0, 4.0]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], ["id", "v"])
    out = {r["id"]: r["zscore"] for r in zscore_per_group(df, "v").collect()}
    mu, sd = np.mean(vals), np.std(vals, ddof=1)
    for i, v in enumerate(vals):
        assert math.isclose(out[i], (v - mu) / sd, rel_tol=1e-12)


def test_reorder_to_input(spark):
    from utils_spark.operators.relational import reorder_to_input

    df = spark.createDataFrame([(2, "b"), (0, "z"), (1, "m")], ["pos", "v"])
    out = [r["v"] for r in reorder_to_input(df, "pos").collect()]
    assert out == ["z", "m", "b"]


def test_pairwise_distances_euclidean_and_cosine(spark):
    import math

    from utils_spark.operators.similarity import pairwise_distances

    df = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("b", [0.0, 1.0]), ("c", [2.0, 0.0])], ["k", "embedding"]
    )
    eu = {(r["key_a"], r["key_b"]): r["euclidean"] for r in pairwise_distances(df, "k", metric="euclidean").collect()}
    assert math.isclose(eu[("a", "b")], math.sqrt(2))
    assert math.isclose(eu[("a", "c")], 1.0)
    cos = {(r["key_a"], r["key_b"]): r["cosine"] for r in pairwise_distances(df, "k", metric="cosine").collect()}
    assert math.isclose(cos[("a", "c")], 1.0)
    assert math.isclose(cos[("a", "b")], 0.0, abs_tol=1e-12)


def test_split_train_holdout_deterministic_partition(spark):
    from utils_spark.operators.sampling import split_train_holdout

    df = spark.createDataFrame([(f"k{i}",) for i in range(500)], ["key"])
    train, hold = split_train_holdout(df, "key", holdout_fraction=0.2, seed=3)
    t1 = {r["key"] for r in train.collect()}
    h1 = {r["key"] for r in hold.collect()}
    assert t1.isdisjoint(h1) and len(t1) + len(h1) == 500
    assert 0.1 < len(h1) / 500 < 0.3  # hash split approximates the fraction
    # repartition must not change membership
    t2 = {r["key"] for r in split_train_holdout(df.repartition(7), "key", 0.2, seed=3)[0].collect()}
    assert t1 == t2


def test_ewma_closed_form_long_series_no_overflow(spark):
    """The block-rescaled closed form must track the exact recursion
    s_t = αx_t + (1−α)s_{t−1} on a 6,000-step series — far past the
    ~2,460-step point where a naively factored running sum (multiply by
    (4/3)^t) overflows double to inf/NaN. Also covers the 2-block carry
    path (blocks 0..11 at the default block=512)."""
    import random

    from utils_spark.operators.stats import ewma_closed_form

    rng = random.Random(42)
    xs = [rng.uniform(0.0, 1000.0) for _ in range(6000)]
    df = spark.createDataFrame(
        [("s", t, x) for t, x in enumerate(xs)], ["series", "t", "x"]
    ).repartition(8)
    out = (
        ewma_closed_form(df, ["series"], "t", "x", alpha=0.25)
        .orderBy("t")
        .select("t", "ewma")
        .collect()
    )
    assert len(out) == 6000
    # exact sequential recursion as the oracle
    s, expect = None, []
    for x in xs:
        s = x if s is None else 0.25 * x + 0.75 * s
        expect.append(s)
    for row, want in zip(out, expect):
        got = row.ewma
        assert math.isfinite(got), f"t={row.t}: non-finite {got}"
        assert abs(got - want) <= 1e-9 * max(1.0, abs(want)), (row.t, got, want)



SERIES = {
    "a": [3.0, 7.0, 1.0, 8.0, 2.0, 9.0, 4.0, 4.0, 6.0, 5.0],
    "b": [10.0, 20.0, 60.0],  # shorter than the 5 lags asked for
}


def _series_frame(spark):
    """SERIES as (key, day, x) rows delivered out of day order."""
    rows = [(k, t, x) for k, xs in SERIES.items() for t, x in enumerate(xs)]
    rows = rows[1::2] + rows[::-2]
    return spark.createDataFrame(rows, "key string, day int, x double").repartition(3)


def test_lag_covariances_match_python_acf(spark):
    """num_k = Σ_t (x_t − μ)(x_{t−k} − μ) over day-ordered pairs, with the
    series' ss = Σx² − n·μ² and count; a lag at or past a series' length
    emits no row."""
    from utils_spark.operators.stats import lag_covariances

    got = {
        (r["key"], r["lag"]): (r["num"], r["ss"], r["cnt"])
        for r in lag_covariances(_series_frame(spark), "key", "day", "x", 5).collect()
    }
    want = {}
    for key, xs in SERIES.items():
        n, mu = len(xs), sum(xs) / len(xs)
        ss = sum(x * x for x in xs) - n * mu * mu
        for k in range(1, min(5, n - 1) + 1):
            num = sum((xs[t] - mu) * (xs[t - k] - mu) for t in range(k, n))
            want[(key, k)] = (num, ss, n)
    assert sorted(got) == sorted(want) == [("a", k) for k in range(1, 6)] + [("b", 1), ("b", 2)]
    for key, (num, ss, n) in want.items():
        g_num, g_ss, g_n = got[key]
        assert g_n == n, key
        assert math.isclose(g_num, num, rel_tol=1e-12, abs_tol=1e-9), (key, g_num, num)
        assert math.isclose(g_ss, ss, rel_tol=1e-12), (key, g_ss, ss)


def test_ordered_series_sorts_by_order_not_arrival(spark):
    from utils_spark.operators.stats import ordered_series

    out = ordered_series(_series_frame(spark), "key", "day", "x").collect()
    got = {r["key"]: (r["vals"], r["n"]) for r in out}
    assert got == {k: (xs, len(xs)) for k, xs in SERIES.items()}


def test_contingency_margins_on_2x3_table(spark):
    from utils_spark.operators.stats import contingency_margins

    counts = {("r1", "c1"): 1, ("r1", "c2"): 2, ("r1", "c3"): 3}
    counts |= {("r2", "c1"): 4, ("r2", "c2"): 5, ("r2", "c3"): 6}
    cells = spark.createDataFrame(
        [(r, c, o) for (r, c), o in counts.items()], "r string, c string, o long"
    )
    got = {
        (x["r"], x["c"]): (x["o"], x["row_tot"], x["col_tot"], x["n"])
        for x in contingency_margins(cells, "r", "c", "o").collect()
    }
    row_tot = {"r1": 6, "r2": 15}
    col_tot = {"c1": 5, "c2": 7, "c3": 9}
    assert got == {(r, c): (o, row_tot[r], col_tot[c], 21) for (r, c), o in counts.items()}

def _brute_jaccard_pairs(texts, k, t):
    """All-pairs exact k-gram Jaccard >= t on plain Python (test oracle)."""
    import itertools

    sets = {i: {txt[j : j + k] for j in range(max(len(txt) - k, 0) + 1)} for i, txt in texts}
    out = {}
    for (ia, sa), (ib, sb) in itertools.combinations(sorted(sets.items()), 2):
        inter = len(sa & sb)
        j = inter / (len(sa) + len(sb) - inter)
        if j >= t:
            out[(ia, ib)] = j
    return out


def test_prefix_filter_jaccard_matches_brute_force(spark):
    """Prefix filtering must have PERFECT recall at the threshold: the
    verified pair set equals brute-force all-pairs Jaccard on a randomized
    corpus with planted near-duplicates (mutated copies) across several
    thresholds."""
    import random

    from utils_spark.operators.dedup import prefix_filtered_jaccard_pairs

    rng = random.Random(7)
    alphabet = "abcdefgh "
    base = ["".join(rng.choice(alphabet) for _ in range(60)) for _ in range(12)]
    texts = []
    did = 0
    for b in base:
        texts.append((did, b)); did += 1
        # a near-copy: mutate a few positions
        mut = list(b)
        for _ in range(rng.randint(1, 6)):
            mut[rng.randrange(len(mut))] = rng.choice(alphabet)
        texts.append((did, "".join(mut))); did += 1
    for t in (0.3, 0.5, 0.8):
        want = _brute_jaccard_pairs(texts, 5, t)
        df = spark.createDataFrame(texts, ["doc_id", "text"])
        got = {
            (r.key_a, r.key_b): r.jaccard
            for r in prefix_filtered_jaccard_pairs(
                df, "text", "doc_id", shingle_k=5, threshold=t
            ).collect()
        }
        assert set(got) == set(want), (t, set(want) - set(got), set(got) - set(want))
        for pair, j in want.items():
            assert abs(got[pair] - j) < 1e-12


_HOT = " footer "


def _planted_jaccard_pair(rng, alphabet, o, na, nb, hot_side=None):
    """Two texts whose 5-gram sets have exactly ``o`` common grams and sizes
    ``na``, ``nb``: a = X + S, b = S + Y, with S's o grams shared and every
    gram that touches X or Y unique to its side (nb == o plants b ⊂ a). A
    third text S + Z makes the shared grams more frequent than the unique
    ones, so they rank after them: the tightest case for the prefix
    length. ``hot_side`` ends X (or starts Y) with the corpus-frequent
    ``_HOT``, whose grams rank after the shared ones, so that side's tail
    after the last shared gram is the longer one."""
    rand = lambda n: "".join(rng.choice(alphabet) for _ in range(n))
    s = rand(o + 4)
    x = rand(na - o - len(_HOT)) + _HOT if hot_side == "a" else rand(na - o)
    y = _HOT + rand(nb - o - len(_HOT)) if hot_side == "b" else rand(nb - o)
    return x + s, s + y, s + rand(rng.randint(6, 30))


def test_prefix_filter_positional_bound_keeps_exact_threshold_pairs(spark):
    """The positional bound (overlap at most c + min(sa - pa, sb - pb))
    must not lose a pair, also at exactly J = t: the verified pair set
    equals brute-force Jaccard on a corpus of 10-128-char documents,
    near-copies, and pairs planted at exactly J = t. Corpus-frequent
    footer grams rank last, so on a pair where one side carries them that
    side's tail is the longer one, and both branches of the min bind
    somewhere in the corpus. 0.3, 0.55 and 0.7 are not exact in binary;
    at 0.55 a 100-gram prefix computed as |d| - ceil(0.55 * |d|) + 1 in
    floating point is one gram short, which loses the planted b ⊂ a
    pair."""
    import random
    from fractions import Fraction

    from utils_spark.operators.dedup import prefix_filtered_jaccard_pairs

    rng = random.Random(29)
    alphabet = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
    texts = []
    for i in range(30):
        base = "".join(rng.choice(alphabet) for _ in range(rng.randint(10, 120)))
        mut = list(base)
        for _ in range(rng.randint(1, 4)):
            mut[rng.randrange(len(mut))] = rng.choice(alphabet)
        mut = "".join(mut)
        texts += [base + _HOT * (i % 3 == 2), mut + _HOT * (i % 3 > 0)]
    # (t, o, na, nb, hot_side) with o / (na + nb - o) == t exactly
    planted = [
        (0.3, 9, 30, 9, None), (0.3, 30, 100, 30, "a"), (0.3, 12, 20, 32, "b"),
        (0.5, 20, 40, 20, "a"), (0.5, 20, 25, 35, "b"), (0.5, 20, 35, 25, None),
        (0.55, 55, 100, 55, None), (0.55, 11, 14, 17, None), (0.55, 44, 80, 44, "a"),
        (0.7, 7, 10, 7, None), (0.7, 70, 100, 70, "a"), (0.7, 35, 40, 45, "b"),
        (0.8, 8, 10, 8, None), (0.8, 40, 44, 46, None), (0.8, 80, 100, 80, "a"),
        (0.8, 40, 40, 50, "b"),
    ]
    exact = []
    for t, o, na, nb, hot_side in planted:
        exact.append((t, len(texts), len(texts) + 1))
        texts += _planted_jaccard_pair(rng, alphabet, o, na, nb, hot_side)
    texts = list(enumerate(texts))
    df = spark.createDataFrame(texts, ["doc_id", "text"])
    grams = {i: {x[j : j + 5] for j in range(len(x) - 4)} for i, x in texts}
    for t in (0.3, 0.5, 0.55, 0.7, 0.8):
        want = _brute_jaccard_pairs(texts, 5, t)
        for tp, ia, ib in exact:
            if tp == t:
                inter = len(grams[ia] & grams[ib])
                assert Fraction(inter, len(grams[ia] | grams[ib])) == Fraction(str(t))
                assert (ia, ib) in want
        got = {
            (r.key_a, r.key_b): r.jaccard
            for r in prefix_filtered_jaccard_pairs(
                df, "text", "doc_id", shingle_k=5, threshold=t
            ).collect()
        }
        assert set(got) == set(want), (t, set(want) - set(got), set(got) - set(want))
        for pair, j in want.items():
            assert abs(got[pair] - j) < 1e-12


def test_prefix_filter_candidates_pruned_at_sf0001(spark, sf_dir):
    """The positional bound's pruning, pinned where it is deterministic:
    ngram_jaccard_pairs' input (sf0.001 documents, doc_id < 200) gives
    18,156 prefix-join pairs, of which 182 can still reach J >= 0.5, and
    those 182 hold every pair that reaches it (11, by brute force)."""
    import os

    from utils_spark.io import load_table
    from utils_spark.operators.dedup import prefix_filter_candidates

    sf = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
    d = load_table(spark, sf, "documents").filter("doc_id < 200")
    cand = {(r.key_a, r.key_b) for r in prefix_filter_candidates(d, "text", "doc_id", 5, 0.5).collect()}
    want = _brute_jaccard_pairs([(r.doc_id, r.text) for r in d.collect()], 5, 0.5)
    assert len(cand) == 182, len(cand)
    assert len(want) == 11 and set(want) <= cand, (len(want), set(want) - cand)


def test_prefix_filter_containment_matches_brute_force(spark):
    """The asymmetric containment prefix filter must have PERFECT recall:
    the verified ORDERED pair set equals brute-force all-ordered-pairs
    containment on a corpus with planted excerpts (short docs copied
    verbatim into longer hosts — the case symmetric Jaccard misses)."""
    import itertools
    import random

    from utils_spark.operators.dedup import prefix_filtered_containment_pairs

    rng = random.Random(13)
    alphabet = "abcdefgh "
    hosts = ["".join(rng.choice(alphabet) for _ in range(90)) for _ in range(8)]
    texts = []
    did = 0
    for h in hosts:
        texts.append((did, h)); did += 1
        # an excerpt: a 25-char slice of the host (fully contained)
        start = rng.randrange(len(h) - 25)
        texts.append((did, h[start : start + 25])); did += 1
        # a mutated excerpt: mostly-contained
        mut = list(h[start : start + 30])
        mut[rng.randrange(len(mut))] = rng.choice(alphabet)
        texts.append((did, "".join(mut))); did += 1
    for num, den in ((4, 5), (9, 10), (1, 2)):
        sets = {
            i: {t[j : j + 5] for j in range(max(len(t) - 5, 0) + 1)} for i, t in texts
        }
        want = {}
        for (ia, sa), (ib, sb) in itertools.permutations(sorted(sets.items()), 2):
            inter = len(sa & sb)
            if den * inter >= num * len(sa):
                want[(ia, ib)] = inter / len(sa)
        df = spark.createDataFrame(texts, ["doc_id", "text"])
        got = {
            (r.key_a, r.key_b): r.containment
            for r in prefix_filtered_containment_pairs(
                df, "text", "doc_id", shingle_k=5, threshold_num=num, threshold_den=den
            ).collect()
        }
        assert set(got) == set(want), (
            f"{num}/{den}", set(want) - set(got), set(got) - set(want)
        )
        for pair, c in want.items():
            assert abs(got[pair] - c) < 1e-12


def test_prefix_filter_suppresses_hot_grams(spark):
    """The df² skew bomb: every doc shares one hot shingle, pairwise
    Jaccard far below threshold. A bare gram self-join would emit
    n·(n−1)/2 candidates on the hot key; the prefix filter must emit
    (near) none, because a corpus-frequent gram ranks last and falls
    outside every document's prefix."""
    import random

    from utils_spark.operators.dedup import prefix_filter_candidates

    rng = random.Random(11)
    n = 60
    # each doc: a genuinely unique random region + the shared boilerplate
    texts = [
        (i, "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(24))
            + " SHARED BOILERPLATE FOOTER")
        for i in range(n)
    ]
    df = spark.createDataFrame(texts, ["doc_id", "text"])
    cand = prefix_filter_candidates(df, "text", "doc_id", shingle_k=5, threshold=0.5)
    n_cand = cand.count()
    # a bare gram self-join emits all 60*59/2 = 1770 pairs via the shared
    # footer shingles; prefixes hold each doc's rare grams, so the only
    # candidates left come from coincidental df=2 boundary shingles
    assert n_cand < 200, n_cand
    # and the crisp invariant: no document's prefix contains a hot gram
    from pyspark.sql import Window

    from utils_spark.functions import char_shingles

    sh = df.select(F.col("doc_id").alias("k"), char_shingles("text", 5).alias("grams"))
    g = sh.select("k", F.size("grams").alias("sz"), F.explode("grams").alias("gram"))
    gdf = g.groupBy("gram").agg(F.count("*").alias("df"))
    ranked = g.join(gdf, "gram").withColumn(
        "pos",
        F.row_number().over(Window.partitionBy("k").orderBy(F.asc("df"), F.asc("gram"))),
    )
    prefix = ranked.filter(F.col("pos") <= F.col("sz") - F.ceil(0.5 * F.col("sz")) + 1)
    assert prefix.filter(F.col("df") >= n).count() == 0


def _bpe_reference(texts, n_merges):
    """Pure-Python BPE trainer (Sennrich et al. 2016) as the test oracle."""
    from collections import Counter

    words = Counter()
    for t in texts:
        for w in t.split():
            words[w] += 1
    vocab = {w: [c for c in w] for w in words}
    merges = []
    for rnd in range(1, n_merges + 1):
        counts = Counter()
        for w, toks in vocab.items():
            for i in range(len(toks) - 1):
                counts[(toks[i], toks[i + 1])] += words[w]
        if not counts:
            break
        (l, r), cnt = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((rnd, l, r, cnt))
        for w, toks in vocab.items():
            out, i = [], 0
            while i < len(toks):
                if i + 1 < len(toks) and toks[i] == l and toks[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(toks[i])
                    i += 1
            vocab[w] = out
    return merges


def test_bpe_train_matches_reference(spark):
    """The distributed BPE trainer must reproduce the canonical sequential
    algorithm exactly — merge choices, tie-breaks, and weighted counts —
    on a corpus with repeated-char words (greedy-overlap edge: 'aaa' with
    (a,a) merges to [aa, a]) and adjacent repeat pairs ('abab')."""
    from utils_spark.operators.textmodel import bpe_train

    texts = [
        "low low low low lower lower newest newest newest widest",
        "aaa aaa abab abab abab banana bandana",
        "the cat sat on the mat the bat",
    ]
    want = _bpe_reference(texts, 10)
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["id", "text"])
    got = [
        (r.merge_round, r.left_tok, r.right_tok, r.pair_count)
        for r in bpe_train(df, "text", 10).orderBy("merge_round").collect()
    ]
    assert got == want, (got, want)


def test_bpe_oracle_merge_identical_token_runs():
    """The SQL oracle's merge step must be exactly greedy for l == r
    identical-token runs (ADVICE r6): the old sentinel double-replace
    gave 'aaaaa' -> [aa, a, aa] (a shifted, non-greedy first-pass match)
    instead of the greedy [aa, aa, a], and 'aaaaaa' -> [aa, a, aa, a]
    (even a different token COUNT) instead of [aa, aa, aa]. Run the
    generated oracle in DuckDB on a run-heavy corpus and require the
    merge table to match the sequential Sennrich reference — rounds past
    the first only see the correct counts if every earlier fold merged
    greedily, so this pins the fold itself, not just round 1."""
    import duckdb

    from utils_spark.queries.text import _bpe_train_oracle

    texts = [
        "aaaaa aaaaaa aaa aaaa",
        "bbbb abab aabb aaaa",
        "aaaaa aaaaa cc ccc cccc",
    ]
    want = _bpe_reference(texts, 8)
    con = duckdb.connect()
    con.execute("CREATE TABLE documents AS SELECT * FROM (VALUES "
                + ", ".join(f"('{t}')" for t in texts) + ") t(text)")
    got = [tuple(r) for r in con.execute(_bpe_train_oracle(8)).fetchall()]
    con.close()
    assert sorted(got) == sorted(want), (sorted(got), sorted(want))


def _wordpiece_reference(texts, n_merges):
    """Pure-Python WordPiece trainer (Schuster & Nakajima 2012) as the test
    oracle: BPE round structure with the likelihood argmax
    count(l,r)/(count(l)*count(r)). Score comparison in Python doubles —
    the same arithmetic both engines perform."""
    from collections import Counter

    words = Counter()
    for t in texts:
        for w in t.split():
            words[w] += 1
    vocab = {w: [c for c in w] for w in words}
    merges = []
    for rnd in range(1, n_merges + 1):
        counts, uni = Counter(), Counter()
        for w, toks in vocab.items():
            for tok in toks:
                uni[tok] += words[w]
            for i in range(len(toks) - 1):
                counts[(toks[i], toks[i + 1])] += words[w]
        if not counts:
            break
        (l, r), cnt = min(
            counts.items(), key=lambda kv: (-(kv[1] / (uni[kv[0][0]] * uni[kv[0][1]])), kv[0])
        )
        merges.append((rnd, l, r, cnt, uni[l], uni[r]))
        for w, toks in vocab.items():
            out, i = [], 0
            while i < len(toks):
                if i + 1 < len(toks) and toks[i] == l and toks[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(toks[i])
                    i += 1
            vocab[w] = out
    return merges


def test_wordpiece_train_matches_reference(spark):
    """The distributed WordPiece trainer must reproduce the sequential
    likelihood-argmax algorithm exactly — merge choices driven by the
    cnt/(cl*cr) score (NOT raw frequency: the corpus is built so the two
    criteria pick different pairs), tie-breaks, and the constituent
    unigram counts."""
    from utils_spark.operators.textmodel import wordpiece_train

    texts = [
        "low low low low lower lower newest newest newest widest",
        "aaa aaa abab abab abab banana bandana",
        "the cat sat on the mat the bat qu qu",
    ]
    want = _wordpiece_reference(texts, 10)
    bpe_first = _bpe_reference(texts, 1)[0][1:3]
    wp_first = want[0][1:3]
    assert bpe_first != wp_first, "corpus fails to distinguish WordPiece from BPE"
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["id", "text"])
    got = [
        (r.merge_round, r.left_tok, r.right_tok, r.pair_count, r.left_count, r.right_count)
        for r in wordpiece_train(df, "text", 10).orderBy("merge_round").collect()
    ]
    assert got == want, (got, want)


def test_wordpiece_oracle_matches_reference():
    """The generated likelihood-mode SQL oracle replays the same rounds:
    run it in DuckDB on the distinguishing corpus (plus identical-token
    runs for the greedy fold) and require the merge table to match the
    sequential reference."""
    import duckdb

    from utils_spark.queries.text import _wordpiece_train_oracle

    texts = [
        "low low low low lower lower newest newest newest widest",
        "aaaaa aaaaa abab abab qu qu",
        "the cat sat on the mat the bat",
    ]
    want = _wordpiece_reference(texts, 8)
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES "
        + ", ".join(f"('{t}')" for t in texts)
        + ") t(text)"
    )
    got = [tuple(r) for r in con.execute(_wordpiece_train_oracle(8)).fetchall()]
    con.close()
    assert sorted(got) == sorted(want), (sorted(got), sorted(want))


def _unigram_reference(texts):
    """Pure-Python Viterbi-EM unigram trainer implementing the operator's
    exact spec (seed, smallest-k tie-break, prune-in-M, single-char
    floor) as the test oracle."""
    import math
    import re

    from utils_spark.operators.textmodel import (
        UNIGRAM_FLOOR,
        UNIGRAM_MAXLEN,
        UNIGRAM_MAXP,
        UNIGRAM_N_MULTI,
        UNIGRAM_ROUNDS,
    )

    words = {}
    for t in texts:
        for w in re.split(r"\s+", t.strip()):
            if w and len(w) <= UNIGRAM_MAXLEN:
                words[w] = words.get(w, 0) + 1
    singles, multi = {}, {}
    for w, n in words.items():
        for ch in w:
            singles[ch] = singles.get(ch, 0) + n
        for k in range(2, UNIGRAM_MAXP + 1):
            for i in range(k, len(w) + 1):
                p = w[i - k : i]
                multi[p] = multi.get(p, 0) + n
    top = sorted(multi.items(), key=lambda kv: (-kv[1], kv[0]))[:UNIGRAM_N_MULTI]
    vocab = dict(singles)
    vocab.update(dict(top))
    total = sum(vocab.values())
    logp = {p: round(math.log(c / total), 6) for p, c in vocab.items()}
    single_set = set(singles)
    counts = {}
    for _ in range(UNIGRAM_ROUNDS):
        counts = {}
        for w, n in words.items():
            ln = len(w)
            dp, kk = [0.0] + [None] * ln, [0] * (ln + 1)
            for i in range(1, ln + 1):
                best, bk = -1e9, 1
                for k in range(1, min(UNIGRAM_MAXP, i) + 1):
                    p = w[i - k : i]
                    cand = dp[i - k] + logp[p] if p in logp else -1e9
                    if cand > best:  # strict: first (smallest-k) max wins
                        best, bk = cand, k
                dp[i], kk[i] = best, bk
            i = ln
            while i > 0:
                p = w[i - kk[i] : i]
                counts[p] = counts.get(p, 0) + n
                i -= kk[i]
        nxt = {p: counts.get(p, 0) for p in single_set}
        nxt.update({p: c for p, c in counts.items() if len(p) >= 2})
        total = sum(nxt.values())
        logp = {
            p: (round(math.log(c / total), 6) if c > 0 else UNIGRAM_FLOOR)
            for p, c in nxt.items()
        }
        counts = nxt
    return sorted((p, c, logp[p]) for p, c in counts.items())


def test_unigram_train_matches_reference(spark):
    """The distributed unrolled-Viterbi EM trainer must reproduce the
    sequential reference exactly — piece set, counts, scores — on a
    corpus that exercises pruning (multi pieces losing all segments),
    unused-single flooring, the smallest-k tie-break, and words at the
    UNIGRAM_MAXLEN boundary (13-char word excluded)."""
    from utils_spark.operators.textmodel import unigram_train

    texts = [
        "the cat sat on the mat the bat",
        "banana bandana cabana aaaaa",
        "low lower lowest lowering",
        "internationalization is excluded",  # 20-char word drops out
        "abcabcabc xyxyxy zzzz",
    ]
    want = _unigram_reference(texts)
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["id", "text"])
    got = sorted(
        (r.piece, r.piece_count, r.score) for r in unigram_train(df, "text").collect()
    )
    assert got == want, (got[:10], want[:10])


def test_ann_ivf_pq_recall(duck):
    """PQ quantization must stay INFORMATIVE, not just hash-consistent:
    for every query, the exact-L2 nearest neighbor must land in the ADC
    top-100 of a ~500-vector corpus (random ordering would put it at
    ~250 on average), with mean rank <= 60 — measured [1,1,8,13,15,16,
    31,35,51,58] on the near-uniform fixture, where 64x compression
    (8x4-bit codes per 64 dims) makes top-5 recall genuinely hard; the
    paper's own metric is recall@R of NN1 (Jégou et al. 2011 §V). The
    certificate runs on the DuckDB oracle formulation; the Spark side is
    hash-identical to it via test_oracle_parity[ann_ivf_pq], so the
    recall transfers."""
    from collections import defaultdict

    from utils_spark.queries.vector import _pq_oracle

    full = duck.execute(_pq_oracle().replace("WHERE rn <= 5", "")).fetchall()
    byq = defaultdict(list)
    for q, n, d in full:
        byq[q].append((d, n))
    exact1 = dict(
        duck.execute("""
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        q AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < 10),
        d AS (SELECT q.query_id, v.vec_id AS nid,
                list_sum(list_transform(range(1,65),
                         i -> (q.qe[i]-v.e[i])*(q.qe[i]-v.e[i]))) AS dist
              FROM q JOIN v ON v.vec_id <> q.query_id)
        SELECT query_id, nid FROM
          (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dist, nid) rn FROM d)
        WHERE rn = 1
        """).fetchall()
    )
    assert len(byq) == 10
    ranks = []
    for q, lst in byq.items():
        lst.sort()
        ranks.append([n for _, n in lst].index(exact1[q]) + 1)
    assert max(ranks) <= 100, ranks
    assert sum(ranks) / len(ranks) <= 60, ranks


def test_ann_ivfadc_recall(duck):
    """IVFADC's residual quantization must be INFORMATIVE within the
    probed cells: for every query, the exact-L2 nearest neighbor among
    the probed cells' vectors must land in the ADC top-35 of ~93 in-probe
    candidates (random ordering: ~46 expected), mean rank <= 15 —
    measured [1,1,1,2,4,7,9,11,15,17] on the fixture, visibly finer than
    flat PQ's mean ~23 (test_ann_ivf_pq_recall's fixture ranks scale to
    ~4.6/100 candidates vs 6.8/93 here on raw vs residual inputs of the
    same 64x budget — Jégou et al. 2011 §IV's argument). Global-NN1
    routing recall is NOT asserted: the fixture's labels are not
    geometric clusters, so the coarse quantizer's cells — like
    `ann_ivf_bucketed`'s — partition near-uniformly; cell membership and
    routing are hash-pinned by test_oracle_parity[ann_ivfadc] instead.
    Runs on the DuckDB oracle formulation; the Spark side is
    hash-identical to it via the parity test, so the recall transfers."""
    from collections import defaultdict

    from utils_spark.queries.vector import _ivfadc_oracle

    full = duck.execute(_ivfadc_oracle().replace("WHERE rn <= 5", "")).fetchall()
    byq = defaultdict(list)
    probed = defaultdict(set)
    for q, n, lbl, d in full:
        byq[q].append((d, n))
        probed[q].add(lbl)
    assert len(byq) == 10
    ranks = []
    for q, lst in byq.items():
        labels = ", ".join(str(x) for x in sorted(probed[q]))
        nn1 = duck.execute(f"""
        WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        q AS (SELECT e AS qe FROM v WHERE vec_id = {q}),
        d AS (SELECT v.vec_id AS nid,
                list_sum(list_transform(range(1,65),
                         i -> (q.qe[i]-v.e[i])*(q.qe[i]-v.e[i]))) AS dist
              FROM q, v WHERE v.vec_id <> {q} AND v.label IN ({labels}))
        SELECT nid FROM d ORDER BY dist, nid LIMIT 1""").fetchone()[0]
        lst.sort()
        ranks.append([n for _, n in lst].index(nn1) + 1)
    assert max(ranks) <= 35, ranks
    assert sum(ranks) / len(ranks) <= 15, ranks


def test_countmin_never_underestimates(duck):
    """The defining CMS property (Cormode & Muthukrishnan 2005 Thm 1):
    the sketch estimate is >= the true count for EVERY word, not just
    the 20 the query reports. Runs the registered oracle formulation
    with the top-20 limit removed over the whole vocabulary; the Spark
    side is hash-identical via test_oracle_parity[countmin_heavy_hitters],
    so the property transfers."""
    from utils_spark.registry import load_all

    sql = load_all()["countmin_heavy_hitters"].oracle.replace(
        "ORDER BY true_count DESC, w LIMIT 20", ""
    )
    rows = duck.execute(sql).fetchall()
    assert len(rows) > 20  # the full vocabulary, not the reported slice
    assert all(est >= true for _, true, est, _ in rows), [
        r for r in rows if r[2] < r[1]
    ][:5]
    assert all(over == est - true for _, true, est, over in rows)


def test_winnowing_match_guarantee(duck):
    """Winnowing's correctness guarantee (Schleimer et al. 2003 §2): any
    substring match of length >= w + k - 1 = 8 chars between two
    documents yields at least one SHARED selected fingerprint. Planted
    pairs sharing exactly an 8-char span (at different offsets, inside
    different surrounding text) must intersect; a control pair with no
    8-char common substring must not be forced to. Runs the registered
    oracle formulation on a synthetic documents relation, with the
    checksum columns swapped for the raw fingerprint lists."""
    import duckdb

    from utils_spark.registry import load_all

    con = duckdb.connect()
    con.execute("""
        CREATE VIEW documents AS SELECT * FROM (VALUES
          (1, 'src', 'xxxxxxxxxxABCDEFGHyyyyyyyyyy'),
          (2, 'src', 'qqqqqppppABCDEFGHrrrrrsssss'),
          (3, 'src', 'zzzzzzzzzzzzzzzzzzzzzzzzzzzz')
        ) AS t(doc_id, source, text)
    """)
    sql = load_all()["winnowing_fingerprints"].oracle.replace(
        """CAST(len(hs) AS BIGINT) AS n_grams,
           CAST(len(fps) AS BIGINT) AS n_fingerprints,
           CAST(COALESCE(list_sum(fps), 0) AS BIGINT) AS fp_checksum""",
        "fps",
    )
    got = {doc_id: set(fps) for doc_id, _src, fps in con.execute(sql).fetchall()}
    con.close()
    assert got[1] & got[2], "8-char shared span must share a fingerprint"
    assert not (got[1] & got[3]) and not (got[2] & got[3])


def test_substring_window_duplicates_reference(spark):
    """Window-fingerprint substring dedup vs a brute-force reference:
    docs sharing any W-token run with an earlier doc are flagged; shorter
    docs (< W tokens) produce zero windows and are always kept; a doc
    repeating ITS OWN window is not flagged by itself."""
    from utils_spark.operators.dedup import substring_window_duplicates

    W = 4
    docs = [
        (1, "a b c d e f"),            # source
        (2, "x y a b c d z"),          # copies 4-token run "a b c d" -> flagged
        (3, "p q r"),                  # too short: 0 windows, kept
        (4, "m n o p m n o p m n o p"),# self-repeats only -> kept
        (5, "c d e f g h"),            # copies "c d e f" from doc 1 -> flagged
        (6, "totally fresh words here today"),  # unique -> kept
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = {r.doc_id: r for r in substring_window_duplicates(df, "text", "doc_id", W).collect()}

    # brute-force reference
    toks = {i: t.split() for i, t in docs}
    wins = {i: [" ".join(t[j : j + W]) for j in range(len(t) - W + 1)] for i, t in toks.items()}
    owner = {}
    for i in sorted(wins):
        for wn in wins[i]:
            owner.setdefault(wn, i)
    for i in sorted(wins):
        n_dup = sum(1 for wn in wins[i] if owner[wn] < i)
        r = out[i]
        assert r.n_windows == len(wins[i]), (i, r)
        assert r.n_dup_windows == n_dup, (i, r)
        assert r.keep == (n_dup == 0), (i, r)
    assert out[2].keep is False and out[5].keep is False
    assert out[1].keep and out[3].keep and out[4].keep and out[6].keep


def test_pagerank_matches_reference(spark):
    """Distributed power iteration vs a dense NumPy reference on a small
    directed graph WITH a dangling node (no out-edges): the documented
    mass-dropping variant must match r' = (1-d)/N + d * M r exactly,
    where M has zero columns for dangling nodes."""
    import numpy as np

    from utils_spark.operators.ml import pagerank

    edges = [(0, 1), (0, 2), (1, 2), (2, 0), (3, 2)]  # node 4 dangling, isolated-in
    n, d, iters = 5, 0.85, 5
    e = spark.createDataFrame(edges, ["src", "dst"])
    nodes = spark.createDataFrame([(i,) for i in range(n)], ["n"])
    got = {r.n: r.rank for r in pagerank(e, nodes, "n", damping=d, n_iter=iters).collect()}

    M = np.zeros((n, n))
    for s, t in edges:
        M[t, s] += 1
    out = M.sum(axis=0)
    M = M / np.where(out == 0, 1, out)
    M[:, out == 0] = 0.0  # dangling column drops its mass
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        r = (1 - d) / n + d * (M @ r)
    for i in range(n):
        assert math.isclose(got[i], r[i], rel_tol=1e-12), (i, got[i], r[i])


def test_trigram_backoff_matches_reference(spark):
    """Stupid-backoff scoring vs a pure-Python reference on a tiny
    held-out split covering all three branches: seen trigram, trigram
    miss -> bigram hit, and full backoff to the unigram (incl. an OOV
    word floored to count 1)."""
    from collections import Counter

    from utils_spark.operators.textmodel import trigram_backoff_scores

    ref_texts = ["the cat sat on the mat", "the dog sat on the rug", "a cat ran home"]
    doc_texts = {
        1: "the cat sat on the rug",   # mixes seen trigrams + bigram backoffs
        2: "zebra cat sat quickly now", # OOV + unigram backoffs
    }
    ref = spark.createDataFrame([(t,) for t in ref_texts], ["text"])
    docs = spark.createDataFrame(list(doc_texts.items()), ["doc_id", "text"])
    got = {
        r.doc_id: (r.n_trigrams, r.mean_neg_log_score)
        for r in trigram_backoff_scores(docs, "doc_id", "text", ref, alpha=0.4).collect()
    }

    uni, bi, tri = Counter(), Counter(), Counter()
    for t in ref_texts:
        w = t.split()
        uni.update(w)
        bi.update(zip(w, w[1:]))
        tri.update(zip(w, w[1:], w[2:]))
    n = sum(uni.values())

    def score(w1, w2, w3):
        if tri[(w1, w2, w3)]:
            return tri[(w1, w2, w3)] / bi[(w1, w2)]
        if bi[(w2, w3)]:
            return 0.4 * bi[(w2, w3)] / uni[w2]
        return 0.16 * max(uni[w3], 1) / n

    for did, text in doc_texts.items():
        w = text.split()
        nls = [-math.log(score(*tg)) for tg in zip(w, w[1:], w[2:])]
        assert got[did][0] == len(nls)
        assert math.isclose(got[did][1], round(sum(nls) / len(nls), 6), abs_tol=1.5e-6), (
            did, got[did], sum(nls) / len(nls),
        )


def test_triangle_enumerate_reference(spark):
    """Triangle enumeration vs itertools brute force on a mixed graph:
    a 4-clique (4 triangles), a triangle sharing one vertex with it, a
    path (0 triangles), duplicate/reversed edges (must dedup)."""
    import itertools

    from utils_spark.operators.ml import triangle_enumerate

    edges = [
        (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),  # 4-clique
        (4, 10), (4, 11), (10, 11),                       # triangle at 4
        (20, 21), (21, 22),                               # path
        (2, 1), (3, 1),                                   # dup/reversed
    ]
    df = spark.createDataFrame(edges, ["u", "v"])
    got = sorted(tuple(r) for r in triangle_enumerate(df).collect())
    eset = {tuple(sorted(e)) for e in edges}
    nodes = sorted({n for e in edges for n in e})
    want = sorted(
        (a, b, c)
        for a, b, c in itertools.combinations(nodes, 3)
        if {(a, b), (a, c), (b, c)} <= eset
    )
    assert got == want, (got, want)
    assert len(got) == 5  # C(4,3)=4 + 1


def test_tokenizer_apply_tail_path_forced(spark, duck, sf_dir, monkeypatch):
    """The fixture corpus has only ~31 distinct words, so the head
    dictionary (TOKENIZER_APPLY_TOPK = 32768) covers EVERY occurrence at
    every SF and the tail fallback (merge-fold / inline Viterbi per
    occurrence) never executes naturally — the exact code that runs on
    100 TB tail words would otherwise ship untested. Force a 5-word head
    dictionary and re-check full oracle parity: the oracle encodes via
    the FULL dictionary, so a head/tail split at ANY K must produce
    byte-identical accounting, proving both paths implement the same
    encoding."""
    from utils_spark.operators import textmodel
    from utils_spark.registry import load_all

    monkeypatch.setattr(textmodel, "TOKENIZER_APPLY_TOPK", 5)
    reg = load_all()
    for name in ("bpe_encoding_apply", "tokenizer_fertility", "unigram_encoding_apply"):
        qd = reg[name]
        sdf = qd.fn(spark, sf_dir)
        scols = [c.lower() for c in sdf.columns]
        srows = [tuple(r) for r in sdf.collect()]
        res = duck.execute(qd.oracle)
        dcols = [d[0].lower() for d in res.description]
        drows = res.fetchall()
        from tests.test_parity import _normalize

        assert _normalize(srows, scols) == _normalize(drows, dcols), (
            f"{name}: head/tail split at K=5 diverged from full-dictionary oracle"
        )


def test_naive_bayes_feature_cap_forced(spark, sf_dir, duck, monkeypatch):
    """The fixture's ~31 distinct words never trip NB_TOPK_FEATURES=4096,
    so the cap's rank filter is a no-op in every natural run. Force K=3
    and compare against the pure-Python reference with the same cap —
    proving the capped model (rank tie-breaks, smoothing denominator
    over the CAPPED vocabulary, capped-out words hitting the floor) is
    implemented correctly, not just vacuously green."""
    import math
    from collections import Counter, defaultdict

    from utils_spark.queries import text as qtext
    from utils_spark.registry import load_all

    K = 3
    monkeypatch.setattr(qtext, "NB_TOPK_FEATURES", K)
    docs = duck.execute("SELECT doc_id, lang, text FROM documents").fetchall()
    train = [(l, t) for i, l, t in docs if i % 2 == 0]
    test = [(i, l, t) for i, l, t in docs if i % 2 == 1]
    wc = defaultdict(Counter)
    prior = Counter()
    for l, t in train:
        prior[l] += 1
        for w in t.split(" "):
            if w:
                wc[l][w] += 1
    wc = {
        l: Counter(dict(sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:K]))
        for l, c in wc.items()
    }
    assert any(len(c) == K for c in wc.values()), "cap must actually bind"
    vocab = {w for c in wc.values() for w in c}
    v = float(len(vocab))
    tot = {l: float(sum(c.values())) for l, c in wc.items()}
    n_train = float(len(train))
    conf = Counter()
    for _i, true_l, t in test:
        words = Counter(w for w in t.split(" ") if w)
        best = None
        for l in sorted(prior):
            s = math.log(prior[l] / n_train)
            for w, q in words.items():
                s += q * (math.log(wc[l].get(w, 0) + 1) - math.log(tot[l] + v))
            s = round(s, 6)
            if best is None or s > best[0] or (s == best[0] and l < best[1]):
                best = (s, l)
        conf[(true_l, best[1])] += 1
    out = load_all()["naive_bayes_langid"].fn(spark, sf_dir).collect()
    got = {(r["true_lang"], r["pred_lang"]): r["n"] for r in out}
    assert got == dict(conf), (got, dict(conf))


def test_lm_ngram_cap_forced(spark, duck, sf_dir, monkeypatch):
    """The fixture's ~31 distinct words never trip LM_MAX_NGRAMS=262144,
    so the count-cutoff pruning (Brants et al. 2007) is a natural no-op.
    Force K=12 — small enough that all three orders' tables actually
    truncate — and compare both LM queries against their REGENERATED
    small-K oracles, proving the rank cutoff, the capped smoothing
    denominator, and the capped-out-n-gram backoff/floor semantics match
    cross-engine when the cap binds."""
    from utils_spark.operators import textmodel
    from utils_spark.queries.text import _lm_perplexity_oracle, _lm_trigram_oracle
    from utils_spark.registry import load_all

    from tests.test_parity import _normalize

    K = 12
    monkeypatch.setattr(textmodel, "LM_MAX_NGRAMS", K)
    # the cap must actually bind at this K
    n_bi = duck.execute(
        """SELECT COUNT(*) FROM (
             SELECT t[i] AS w1, t[i+1] AS w2 FROM (
               SELECT list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                  x -> x <> '') AS t
               FROM documents WHERE doc_id % 2 = 0) r,
             UNNEST(range(1, len(t))) AS u(i) WHERE len(t) >= 2 GROUP BY 1, 2)"""
    ).fetchone()[0]
    assert n_bi > K, f"fixture bigram types {n_bi} must exceed K={K}"
    # ... and the NESTED pruning must bind too: at this K some capped
    # bigrams must have capped-out unigram contexts (and capped trigrams
    # capped-out prefixes), otherwise the parity below would not prove
    # the cross-order consistency fix (a surviving n-gram whose lower-
    # order denominator was capped out must be PRUNED, not scored NULL).
    bi_orphans, tri_orphans = duck.execute(
        f"""WITH tok AS (SELECT doc_id,
                 list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS t
               FROM documents),
        ref AS (SELECT t FROM tok WHERE doc_id % 2 = 0),
        uni_all AS (SELECT u AS w, COUNT(*) AS c1
                    FROM (SELECT unnest(t) AS u FROM ref) GROUP BY u),
        uni AS (SELECT w FROM (SELECT w, row_number()
                  OVER (ORDER BY c1 DESC, w ASC) AS rk FROM uni_all) WHERE rk <= {K}),
        bi_all AS (SELECT t[i] AS w1, t[i+1] AS w2, COUNT(*) AS c2
                   FROM ref, UNNEST(range(1, len(t))) AS r(i)
                   WHERE len(t) >= 2 GROUP BY 1, 2),
        bi_capped AS (SELECT w1, w2 FROM (SELECT w1, w2, row_number()
                  OVER (ORDER BY c2 DESC, w1 ASC, w2 ASC) AS rk FROM bi_all) WHERE rk <= {K}),
        tri_all AS (SELECT t[i] AS w1, t[i+1] AS w2, t[i+2] AS w3, COUNT(*) AS c3
                    FROM ref, UNNEST(range(1, len(t) - 1)) AS r(i)
                    WHERE len(t) >= 3 GROUP BY 1, 2, 3),
        tri_capped AS (SELECT w1, w2 FROM (SELECT w1, w2, w3, row_number()
                  OVER (ORDER BY c3 DESC, w1 ASC, w2 ASC, w3 ASC) AS rk FROM tri_all) WHERE rk <= {K})
        SELECT
          (SELECT COUNT(*) FROM bi_capped b LEFT JOIN uni u ON u.w = b.w1
           WHERE u.w IS NULL),
          (SELECT COUNT(*) FROM tri_capped t LEFT JOIN
             (SELECT b.* FROM bi_capped b JOIN uni u ON u.w = b.w1) bp
             ON bp.w1 = t.w1 AND bp.w2 = t.w2 WHERE bp.w1 IS NULL)"""
    ).fetchone()
    assert bi_orphans > 0 and tri_orphans > 0, (
        f"nested pruning must bind at K={K}: {bi_orphans=} {tri_orphans=}"
    )
    reg = load_all()
    for name, oracle_sql in (
        ("lm_perplexity_filter", _lm_perplexity_oracle(K)),
        ("lm_trigram_backoff_filter", _lm_trigram_oracle(K)),
    ):
        sdf = reg[name].fn(spark, sf_dir)
        scols = [c.lower() for c in sdf.columns]
        srows = [tuple(r) for r in sdf.collect()]
        res = duck.execute(oracle_sql)
        dcols = [d[0].lower() for d in res.description]
        drows = res.fetchall()
        assert _normalize(srows, scols) == _normalize(drows, dcols), (
            f"{name}: capped model at K={K} diverged from the small-K oracle"
        )


def test_suffix_lcp_spans_brute_force(spark):
    """suffix_lcp_spans vs a brute-force all-pairs LCP reference on a
    planted corpus: for every doc, the max LCP between any of its
    word-boundary suffixes (single-space normalized, capped at max_len)
    and any suffix of a DIFFERENT doc — independent of the run-collapse
    algorithm AND the oracle's shared bucketing, so it validates the SA
    adjacency argument itself. Uses bucket_chars=1 so NO cross-doc pair
    escapes the bucket partition (every pair with LCP >= 1 shares a
    first char; LCP=0 pairs can't contribute a positive span)."""
    from utils_spark.operators.dedup import suffix_lcp_spans

    docs = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "prefix words then alpha beta gamma delta end"),   # long overlap
        (3, "alpha beta gamma delta epsilon zeta"),            # exact dup of 1
        (4, "unrelated text entirely different tokens"),
        (5, "zeta zeta zeta zeta"),                            # self-repeat only
        (6, "gamma delta epsilon"),                            # mid-suffix of 1/3
    ]
    MAXLEN, MINSPAN = 30, 10
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = {
        r.doc_id: r
        for r in suffix_lcp_spans(
            df, "text", "doc_id", max_len=MAXLEN, bucket_chars=1, min_span=MINSPAN
        ).collect()
    }

    def suffixes(t):
        w = t.split()
        return {(" ".join(w[i:]))[:MAXLEN] for i in range(len(w))}

    def lcp(a, b):
        n = 0
        for x, y in zip(a, b):
            if x != y:
                break
            n += 1
        return n

    sfx = {i: suffixes(t) for i, t in docs}
    for i in sorted(sfx):
        best = 0
        for j in sorted(sfx):
            if j == i:
                continue
            for a in sfx[i]:
                for b in sfx[j]:
                    best = max(best, lcp(a, b))
        r = out[i]
        assert r.n_suffixes == len(sfx[i]), (i, r)
        assert r.max_dup_span == best, (i, r.max_dup_span, best)
        assert r.is_dup == (best >= MINSPAN), (i, r)
    # shape sanity: the exact dup pair saturates the cap; the planted
    # partial overlap is long but below the cap; self-repeats don't count
    assert out[1].max_dup_span == MAXLEN and out[3].max_dup_span == MAXLEN
    assert out[2].is_dup and 10 <= out[2].max_dup_span < MAXLEN
    assert not out[4].is_dup


def test_unigram_chain_cut_equivalence(spark, sf_dir, monkeypatch):
    """The mid-chain Viterbi lineage cut (UNIGRAM_CHAIN_CUT) is a pure
    planning optimization — piece tables and word->token dictionaries
    must be BIT-IDENTICAL with and without it. This is the equivalence
    guard the flag exists for: if a Spark upgrade changes
    localCheckpoint/internalCreateDataFrame semantics underneath the
    cut, this catches the divergence rather than the driver."""
    from utils_spark.io import load_table
    from utils_spark.operators import textmodel

    d = load_table(spark, sf_dir, "documents").limit(60)
    results = {}
    for flag in (False, True):
        monkeypatch.setattr(textmodel, "UNIGRAM_CHAIN_CUT", flag)
        pieces, vocab = textmodel.unigram_train(d, "text", return_vocab=True)
        results[flag] = (
            sorted(tuple(r) for r in pieces.collect()),
            sorted((r["w"], tuple(r["toks"])) for r in vocab.collect()),
        )
    assert results[False][0] == results[True][0], "piece tables diverged"
    assert results[False][1] == results[True][1], "apply dictionaries diverged"


# ---------------------------------------------------------------- M22 ambient


def _ambient_reference(rows, lower, n_sims, seed):
    """Pure-Python replay of ambient_pvalues (hashlib md5, exact integer
    micro-grid) — an engine-independent oracle for the whole operator:
    ambient profile, observed statistic, the md5 inverse-CDF Monte-Carlo
    null, p-values and the limited flag."""
    import hashlib
    from collections import Counter

    MICRO = 1_000_000
    lnm = lambda x: round(math.log(x) * MICRO)  # noqa: E731
    counts = Counter(rows)  # (barcode, gene) -> y
    totals = Counter()
    for (b, _), y in counts.items():
        totals[b] += y
    genes = sorted({g for _, g in counts})
    pooled = Counter()
    for (b, g), y in counts.items():
        if totals[b] <= lower:
            pooled[g] += y
    n1 = {g: pooled.get(g, 0) + 1 for g in genes}
    denom = sum(n1.values())
    p = {g: n1[g] / denom for g in genes}
    lp = {g: lnm(p[g]) for g in genes}
    # inverse-CDF bounds in gene order (last hi pinned to 1.0)
    bounds, acc = [], 0.0
    for i, g in enumerate(genes):
        lo = acc
        acc += p[g]
        bounds.append((g, lo, 1.0 if i == len(genes) - 1 else acc))
    tested = {b: t for b, t in totals.items() if t > lower}
    obs = {}
    for (b, g), y in counts.items():
        if b in tested:
            obs[b] = obs.get(b, 0) + y * lp[g] - sum(lnm(i) for i in range(1, y + 1))
    tmax = max(tested.values(), default=0)
    lsim = {}  # (r, j) -> cumulative micro stat
    for r in range(1, n_sims + 1):
        occ, cum = Counter(), 0
        for j in range(1, tmax + 1):
            h = int(hashlib.md5(f"{r}:{j}:{seed}".encode()).hexdigest()[:15], 16)
            u = (h + 1) / float(1 << 60)
            g = next(g for g, lo, hi in bounds if lo < u <= hi)
            occ[g] += 1
            cum += lp[g] - lnm(occ[g])
            lsim[(r, j)] = cum
    out = {}
    for b, t in tested.items():
        nbelow = sum(1 for r in range(1, n_sims + 1) if lsim[(r, t)] <= obs[b])
        out[b] = (t, obs[b], (nbelow + 1) / (n_sims + 1), nbelow == 0)
    return out


def test_ambient_pvalues_matches_pure_python_replay(spark):
    """Whole-operator differential vs the hashlib/integer-grid replay:
    every tested barcode's (total, statistic, p-value, limited) must be
    EXACTLY equal — the operator's claim is bit-level determinism."""
    from utils_spark.operators.qc import ambient_pvalues

    # 3 genes, skewed profile; barcodes 0..5 ambient-ish, 6..9 heavier
    rows = []
    for b in range(10):
        size = 4 if b < 6 else 9 + b
        for i in range(size):
            g = ["a", "b", "c"][(b * 7 + i * 3) % 3] if b != 9 else "c"
            rows.append((f"bc{b}", g))
    df = spark.createDataFrame(rows, ["bc", "gene"])
    got = {
        r["bc"]: (r["total"], r["obs_micro"], r["pvalue"], r["limited"])
        for r in ambient_pvalues(df, "bc", "gene", lower=5, n_sims=40, seed=7).collect()
    }
    want = _ambient_reference(rows, lower=5, n_sims=40, seed=7)
    assert set(got) == set(want)
    for b in want:
        assert got[b][0] == want[b][0], (b, "total", got[b], want[b])
        assert got[b][1] == want[b][1], (b, "obs_micro", got[b], want[b])
        assert math.isclose(got[b][2], want[b][2], rel_tol=0, abs_tol=0), (b, got[b], want[b])
        assert got[b][3] == want[b][3], (b, "limited", got[b], want[b])


def test_ambient_pvalues_properties_and_planted_outlier(spark):
    """Invariants: p ∈ [1/(R+1), 1] on the (R+1)-grid; limited ⇔ p at its
    floor; BH never decreases a p-value; ambient barcodes are excluded.
    A barcode drawing ONLY the rarest gene (planted non-ambient signal)
    must hit the p-value floor with limited=True, and a barcode matching
    the ambient profile must not."""
    from utils_spark.operators.qc import ambient_pvalues

    rows = []
    # ambient pool: 30 barcodes of 4 events, 90% gene 'x', 10% 'y'
    for b in range(30):
        for i in range(4):
            rows.append((f"amb{b}", "y" if (b * 4 + i) % 10 == 0 else "x"))
    # conformer: 40 events shaped like the ambient profile
    rows += [("conf", "y" if i % 10 == 0 else "x") for i in range(40)]
    # planted: 40 events, all the rare gene
    rows += [("planted", "y")] * 40
    df = spark.createDataFrame(rows, ["bc", "gene"])
    R = 100
    res = {
        r["bc"]: r
        for r in ambient_pvalues(df, "bc", "gene", lower=10, n_sims=R, seed=11).collect()
    }
    assert set(res) == {"conf", "planted"}
    floor = 1.0 / (R + 1)
    for r in res.values():
        assert floor - 1e-12 <= r["pvalue"] <= 1.0
        k = r["pvalue"] * (R + 1)
        assert abs(k - round(k)) < 1e-9, "p must sit on the (R+1) grid"
        assert r["limited"] == (abs(r["pvalue"] - floor) < 1e-12)
        assert r["p_adjusted"] >= r["pvalue"] - 1e-12
    assert res["planted"]["limited"] and abs(res["planted"]["pvalue"] - floor) < 1e-12
    assert res["conf"]["pvalue"] > 0.2 and not res["conf"]["limited"]
