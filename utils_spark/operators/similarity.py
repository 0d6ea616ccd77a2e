"""Similarity-search operators over embedding columns (north-star surface).

Brute-force cosine top-k as the exact baseline; IVF bucket routing as the
scale path (see queries/vector.py ann_ivf_bucketed for the wired version).
All vector math is JVM-side (zip_with/aggregate) — no Python in the loop.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from utils_spark.functions import cosine_similarity, sq_l2, to_double_array


def topk_per_key(df: DataFrame, key: str, order, k: int) -> DataFrame:
    """The first ``k`` rows per ``key`` under the total order ``order``
    (a tuple of sort Columns that ends in a unique tie-break), as one
    `Window.partitionBy(key)` + ``row_number <= k`` stage. Spark plans
    this shape with a map-side partial top-k (``WindowGroupLimit ...
    Partial`` before the exchange), so each reducer sees at most
    map tasks x k rows per key, never all of one key's rows. A salted
    two-stage form (top-k per (key, hash bucket), then per key) measured
    worse at sf0.1: more shuffle bytes and one more stage per top-k."""
    w = Window.partitionBy(key).orderBy(*order)
    return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") <= k).drop("__rn")


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_key: str,
    corpus_key: str,
    vec_col: str = "embedding",
    k: int = 5,
    round_digits: int | None = 6,
    query_label: str | None = None,
    corpus_label: str | None = None,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Exact top-k cosine neighbors of every query vector:
    (query_id, neighbor_id, *carry, cosine), k rows per query; ``carry``
    names corpus columns passed through to the output. With
    ``query_label`` and ``corpus_label`` set, pairs whose labels MATCH are
    excluded — the hard-negative-mining variant (contrastive training
    data wants the most similar items of a DIFFERENT class); setting only
    one of the two raises ValueError.

    Scale shape: queries broadcast; the corpus streams partition-parallel
    (never shuffled for scoring); the top-k reduction is `topk_per_key`
    by (rounded cosine desc, neighbor_id asc). `round_digits` stabilizes
    ordering across engines; None disables.
    """
    if (query_label is None) != (corpus_label is None):
        raise ValueError("query_label and corpus_label must be set together")
    qcols = [F.col(query_key).alias("query_id"), to_double_array(vec_col).alias("__qv")]
    ccols = [F.col(corpus_key).alias("neighbor_id"), *carry, to_double_array(vec_col).alias("__nv")]
    if query_label is not None:
        qcols.append(F.col(query_label).alias("__ql"))
        ccols.append(F.col(corpus_label).alias("__nl"))
    q = queries.select(*qcols)
    c = corpus.select(*ccols)
    sim = cosine_similarity(F.col("__qv"), F.col("__nv"))
    if round_digits is not None:
        sim = F.round(sim, round_digits)
    cond = F.col("neighbor_id") != F.col("query_id")
    if query_label is not None:
        cond = cond & (F.col("__ql") != F.col("__nl"))
    sims = (
        F.broadcast(q)
        .join(c, cond)
        .select("query_id", "neighbor_id", *carry, sim.alias("cosine"))
    )
    return topk_per_key(sims, "query_id", (F.desc("cosine"), F.asc("neighbor_id")), k)


def mean_vectors(
    df: DataFrame, keys: str | list[str], vec: str | Column, round_digits: int | None = None
) -> DataFrame:
    """Component-wise mean of the array column ``vec`` per ``keys``:
    (keys..., centroid array<double>), components optionally rounded.
    posexplode → avg per (keys, dim) → dim-ordered collect → array, so
    the shuffles carry (keys x dim) partial aggregates, never vectors —
    the centroid step of IVF coarse quantizers, PQ Lloyd updates and
    cluster-centroid trajectories."""
    keys = [keys] if isinstance(keys, str) else list(keys)

    def component(p):
        return p["cx"] if round_digits is None else F.round(p["cx"], round_digits)

    return (
        df.select(*keys, F.posexplode(vec).alias("dim", "x"))
        .groupBy(*keys, "dim")
        .agg(F.avg("x").alias("cx"))
        .groupBy(*keys)
        .agg(F.array_sort(F.collect_list(F.struct("dim", "cx"))).alias("pairs"))
        .select(*keys, F.transform("pairs", component).alias("centroid"))
    )


def pairwise_distances(
    df: DataFrame, key_col: str, vec_col: str = "embedding", metric: str = "cosine"
) -> DataFrame:
    """All-pairs similarity/distance (key_a < key_b). O(n²) — intended for
    SMALL inputs (sample-level distance matrices, reference M21
    R/qc_rna.R:93-115 sample clustering); for large inputs use LSH/IVF."""
    v = df.select(F.col(key_col).alias("k"), to_double_array(vec_col).alias("v"))
    a, b = v.alias("a"), v.alias("b")
    joined = a.join(b, F.col("a.k") < F.col("b.k"))
    if metric == "cosine":
        m = cosine_similarity(F.col("a.v"), F.col("b.v"))
    elif metric == "euclidean":
        m = F.sqrt(sq_l2(F.col("a.v"), F.col("b.v")))
    else:
        raise ValueError(f"unknown metric: {metric}")
    return joined.select(F.col("a.k").alias("key_a"), F.col("b.k").alias("key_b"), m.alias(metric))


def _hyperplane_band_keys(planes, bands: int, rows_per_band: int):
    """Arrow-vectorized hyperplane band keys: one `pandas_udf` column
    producing the array of `bands` sign-bit strings per vector.

    Optimization (r15, guide §4.2): the expression formulation embedded
    bands·rows_per_band·dim literals (16,384 for the 32×8×64 near-dup
    queries) into the plan — measured 13.8-20.2 s of pure DRIVER time per
    query (analysis/optimization of the literal forest, re-paid per job)
    plus interpreted HigherOrderFunction math per element on executors
    (~3 s per signature pass at sf0.1). Here the planes live inside the
    UDF closure (plan carries one opaque node), and the dot products run
    vectorized in numpy.

    BIT-IDENTICAL to the expression form by construction: the fold
    ((0.0 + p₀v₀) + p₁v₁) + … is replayed exactly — one `acc += P[:,j]·V[:,j]`
    step per dimension j in ascending order, elementwise multiply before
    add, float64 throughout (IEEE ops in numpy and the JVM agree; neither
    fuses) — so every sign bit, band key, and candidate pair is unchanged.
    Spark's NaN ordering (NaN >= 0 is true) is replicated explicitly.

    PRECONDITION (like the expression form in practice): vectors are
    fully non-null. A NULL vector or a dim-mismatched vector gets "" keys
    (the expression form's array_join-skips-nulls result), matching the
    old plan's behavior of never producing a verified pair for it;
    element-level nulls inside a vector are not supported (no in-repo
    caller produces them — to_double_array over non-null parquet columns
    and arithmetic perturbations thereof)."""
    planes_rows = [[float(x) for x in row] for row in planes]

    @F.pandas_udf("array<string>")
    def band_keys(vs: pd.Series) -> pd.Series:
        import numpy as np

        P = np.asarray(planes_rows, dtype=np.float64)  # (bands·rpb, dim)
        n_planes, dim = P.shape
        vals = vs.tolist()
        n = len(vals)
        V = np.zeros((n, dim), dtype=np.float64)
        bad = np.zeros(n, dtype=bool)
        for i, v in enumerate(vals):
            if v is None:
                bad[i] = True
                continue
            a = np.asarray(v, dtype=np.float64)
            if a.shape != (dim,):
                bad[i] = True
            else:
                V[i] = a
        acc = np.zeros((n, n_planes), dtype=np.float64)
        for j in range(dim):  # exact left-fold replay: multiply, then add, j ascending
            acc += V[:, j, None] * P[None, :, j]
        bits = (acc >= 0) | np.isnan(acc)  # Spark NaN ordering: NaN >= 0 is true
        chars = np.where(bits, b"1", b"0").astype("S1")
        keys = (
            np.ascontiguousarray(chars)
            .reshape(n * bands, rows_per_band)
            .view(f"S{rows_per_band}")
            .reshape(n, bands)
            .astype(str)
        )
        out = keys.tolist()
        for i in np.nonzero(bad)[0]:
            out[i] = [""] * bands
        return pd.Series(out)

    return band_keys


def hyperplane_lsh_candidates(
    df: DataFrame,
    key_col: str,
    vec_col: str = "embedding",
    bands: int = 16,
    rows_per_band: int = 8,
    seed: int = 7,
    dim: int | None = None,
) -> DataFrame:
    """Random-hyperplane (SimHash-for-cosine) LSH candidate pairs:
    (key_a, key_b) distinct, key_a < key_b.

    Charikar's cosine LSH: sign bits of dot products with bands*rows_per_band
    fixed random hyperplanes (seeded numpy normals → deterministic, literal
    arrays, all JVM-side). Two vectors collide in a band iff all that band's
    bits agree; P(bit differs) = angle/pi, so a cosine-0.95 pair misses all
    16 bands w.p. (1-(1-.101)^8)^16 ≈ 1e-4 while random pairs (cos≈0) land
    in the same 256-way bucket w.p. 2^-8 per band.

    Scale shape: signatures are map-only, computed by ONE Arrow-vectorized
    kernel (`_hyperplane_band_keys` — bit-identical to the old literal
    expression forest, see its docstring for the r15 optimization note);
    the only shuffles are the banded equi-self-join on (band_id, band_key)
    and the pair distinct. Vectors are NOT carried through the explode —
    join them back by key for the verify step. Never all-pairs.
    """
    import numpy as np

    arr = to_double_array(vec_col)
    if dim is None:  # one-row probe; pass dim explicitly to stay action-free
        probe = df.select(F.size(arr).alias("d")).first()
        if probe is None or probe["d"] is None:  # empty input → no pairs
            return df.select(
                F.col(key_col).alias("key_a"), F.col(key_col).alias("key_b")
            ).limit(0)
        dim = probe["d"]
    planes = np.random.RandomState(seed).standard_normal((bands * rows_per_band, dim))
    band_keys = _hyperplane_band_keys(planes, bands, rows_per_band)
    sig = df.select(
        F.col(key_col).alias("__k"),
        F.posexplode(band_keys(arr)).alias("band_id", "band_key"),
    )
    a, b2 = sig.alias("a"), sig.alias("b")
    return (
        a.join(
            b2,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.__k") < F.col("b.__k")),
        )
        .select(F.col("a.__k").alias("key_a"), F.col("b.__k").alias("key_b"))
        .distinct()
    )


def lsh_near_dup_pairs(
    df: DataFrame,
    key_col: str,
    vec_col: str = "embedding",
    threshold: float = 0.95,
    bands: int = 16,
    rows_per_band: int = 8,
    seed: int = 7,
    dim: int | None = None,
    round_digits: int | None = 6,
) -> DataFrame:
    """Embedding near-duplicate pairs at scale: hyperplane-LSH candidate
    generation + exact-cosine verification on candidates only
    (key_a, key_b, cosine). The 100 TB shape of `pairwise_distances` +
    threshold: no cartesian anywhere in the plan — candidates come from the
    banded equi-join, and the exact cosine touches only candidate pairs."""
    cand = hyperplane_lsh_candidates(df, key_col, vec_col, bands, rows_per_band, seed, dim)
    v = df.select(F.col(key_col).alias("__vk"), to_double_array(vec_col).alias("__v"))
    joined = (
        cand.join(v.alias("va"), F.col("key_a") == F.col("va.__vk"))
        .join(v.alias("vb"), F.col("key_b") == F.col("vb.__vk"))
    )
    cos = cosine_similarity(F.col("va.__v"), F.col("vb.__v"))
    out = joined.select("key_a", "key_b", cos.alias("__cos")).filter(F.col("__cos") >= threshold)
    final = F.round("__cos", round_digits) if round_digits is not None else F.col("__cos")
    return out.select("key_a", "key_b", final.alias("cosine"))
