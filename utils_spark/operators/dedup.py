"""Deduplication operators for large-scale text curation (north-star
surface, BASELINE.json): exact dedup, fingerprint dedup, MinHash+LSH
near-dup candidates, and distributed connected-components duplicate
clustering (alternating large-star/small-star — the standard shuffle-
bounded CC algorithm for data that dwarfs any single machine).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from utils_spark.functions import (
    _minhash_sig_col,
    char_shingles,
    minhash_band_structs,
    text_fingerprint,
)
from utils_spark.io import spread_low_parallelism
from utils_spark.plans import SAME_STATE, cut_lineage, fixpoint, scratch_persist

# Size gate for the shingled-frame persists below (optimization r16, guide
# §5 + VERDICT r15 item 2): the (key, grams) frame is ~shingle_k× the
# corpus bytes, so at extreme corpus scale one cached copy is the first
# thing to trade back for 4-5× shingle CPU elsewhere. Persist only when the
# planner KNOWS the source is bounded (Catalyst sizeInBytes ≤ this cap);
# unknown estimates come back as Long.MaxValue and conservatively skip the
# cache. 64 GiB of source text ≈ a few hundred GiB cached cluster-wide —
# trivially held by a 100 TB-class cluster, far past every local SF.
_SHINGLE_PERSIST_MAX_INPUT_BYTES = 64 << 30


def _persist_if_bounded(df: DataFrame, source: DataFrame) -> DataFrame:
    try:
        est = int(source._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return df
    if est <= _SHINGLE_PERSIST_MAX_INPUT_BYTES:
        return scratch_persist(df)
    return df


def exact_dedup(df: DataFrame, subset: list[str], key_col: str) -> DataFrame:
    """Keep one row (min key) per distinct value of `subset` — hash-groupBy
    dedup: shuffles only (hash(subset), key) pairs, then a semi-join."""
    keep = df.groupBy(*subset).agg(F.min(key_col).alias(key_col))
    return df.join(keep, subset + [key_col], "left_semi")


def fingerprint_duplicates(
    df: DataFrame, text_col: str, key_col: str, normalize: bool = True
) -> DataFrame:
    """Duplicate clusters by normalized-text md5 fingerprint: returns
    (fingerprint, n_docs, canonical_key) for clusters of size > 1."""
    fp = text_fingerprint(text_col) if normalize else F.md5(F.col(text_col))
    return (
        df.select(fp.alias("fingerprint"), F.col(key_col))
        .groupBy("fingerprint")
        .agg(F.count("*").alias("n_docs"), F.min(key_col).alias("canonical_key"))
        .filter(F.col("n_docs") > 1)
    )


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str,
    key_col: str,
    n_hashes: int = 16,
    n_bands: int = 4,
    shingle_k: int = 5,
    min_est_jaccard: float = 0.5,
) -> DataFrame:
    """Near-duplicate candidate pairs via MinHash signatures + LSH banding:
    (key_a, key_b, est_jaccard). Signatures are zero-shuffle array math
    (one md5 per shingle + affine permutations); the only shuffle is the
    (band_id, band_hash) self-join — never O(n²) pair enumeration."""
    # signature computation is CPU-bound (n_hashes × grams/doc per row); a
    # single-file local scan arrives as ONE partition (parquet splits at
    # row-group granularity), which would serialize it. Spread only when
    # the scan's parallelism is actually low — on a cluster read (many
    # files/row groups) this adds no Exchange.
    df = spread_low_parallelism(df)
    sig = df.select(
        F.col(key_col).alias("__key"),
        _minhash_sig_col(char_shingles(text_col, shingle_k), n_hashes).alias("sig"),
    )
    return _lsh_candidates_from_sig(sig, n_hashes, n_bands, min_est_jaccard)


def _lsh_candidates_from_sig(
    sig: DataFrame, n_hashes: int, n_bands: int, min_est_jaccard: float
) -> DataFrame:
    """Banding + band-bucket self-join over a prepared (__key, sig) frame —
    the shared tail of `minhash_lsh_candidates`, factored out (r15) so
    `lsh_verified_pairs` can feed it signatures derived from its cached
    shingle frame instead of re-shingling the corpus a second time.

    The signature frame is persisted here: the band self-join evaluates
    both sides, and without the cache each side re-pays the full
    md5-per-shingle signature pass. One (key, n_hashes longs) row per doc
    — tiny at any scale. Registered as a scratch cache (r16): harnesses
    release it after the terminal action via
    ``utils_spark.plans.release_scratch_caches``."""
    sig = scratch_persist(sig)
    bands = sig.select(
        "__key",
        "sig",
        F.explode(minhash_band_structs("sig", n_hashes, n_bands)).alias("band"),
    ).select("__key", "sig", "band.band_id", "band.band_hash")
    a, b = bands.alias("a"), bands.alias("b")
    est: Column = (
        F.size(F.filter(F.zip_with("a.sig", "b.sig", lambda x, y: x == y), lambda v: v)).cast("double")
        / n_hashes
    )
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.__key") < F.col("b.__key")),
        )
        .select(F.col("a.__key").alias("key_a"), F.col("b.__key").alias("key_b"), est.alias("est_jaccard"))
        .distinct()
        .filter(F.col("est_jaccard") >= min_est_jaccard)
    )


def lsh_verified_pairs(
    df: DataFrame,
    text_col: str,
    key_col: str,
    n_hashes: int = 32,
    n_bands: int = 8,
    shingle_k: int = 5,
    min_est_jaccard: float = 0.5,
    min_jaccard: float = 0.8,
) -> DataFrame:
    """Exact-Jaccard duplicate pairs at corpus scale: MinHash-LSH candidate
    generation followed by exact set-intersection verification restricted
    to candidates → (key_a, key_b) with true Jaccard >= `min_jaccard`.

    This is the production candidate stage for keep-policy dedup: the only
    pair enumeration is the (band_id, band_hash) self-join, and the exact
    verify joins grams by (candidate key, gram) — never a bare gram=gram
    equi-join, whose hot-shingle df² blowup is the classic dedup skew bomb.
    Verify volume is O(|candidates| · grams/doc). Choose banding so the
    candidate-probability S-curve is ~1 at `min_jaccard` (defaults: 32
    hashes / 8 bands / est >= 0.5 give miss probability < 2e-5 per pair at
    j = 0.9); exact verification then removes every false positive.
    """
    # same single-file-scan parallelism guard as minhash_lsh_candidates:
    # the shingle explode below is CPU-bound map work
    df = spread_low_parallelism(df)
    # ONE shingling pass serves all four consumers (r15, guide §1.2/§5):
    # the signature stage, both exact-verify gram sides, and the size
    # table each re-derived char_shingles from the raw text before —
    # measured ~60 s of duplicated executor CPU per run at sf0.1 across
    # the broadcast builds alone. The persisted frame is one gram-array
    # row per doc (~shingle_k× the corpus bytes; MEMORY_AND_DISK, so
    # executors spill rather than OOM). SIZE-GATED since r16 (VERDICT r15
    # item 2): past _SHINGLE_PERSIST_MAX_INPUT_BYTES of known source
    # bytes — or when the planner cannot bound the source — the persist
    # is skipped and the map-side shingling recomputes per consumer.
    shingled = _persist_if_bounded(
        df.select(F.col(key_col).alias("__k"), char_shingles(text_col, shingle_k).alias("grams")),
        df,
    )
    sig = shingled.select(
        F.col("__k").alias("__key"), _minhash_sig_col(F.col("grams"), n_hashes).alias("sig")
    )
    cand = _lsh_candidates_from_sig(sig, n_hashes, n_bands, min_est_jaccard).select(
        "key_a", "key_b"
    )
    sz = shingled.select("__k", F.size("grams").alias("sz"))
    g = shingled.select("__k", F.explode("grams").alias("gram"))
    inter = (
        cand.join(g.withColumnRenamed("__k", "key_a"), "key_a")
        .join(g.withColumnRenamed("__k", "key_b"), ["key_b", "gram"])
        .groupBy("key_a", "key_b")
        .agg(F.count("*").alias("n_common"))
    )
    jac = F.col("n_common").cast("double") / (F.col("sz_a") + F.col("sz_b") - F.col("n_common"))
    return (
        inter.join(sz.withColumnRenamed("__k", "key_a").withColumnRenamed("sz", "sz_a"), "key_a")
        .join(sz.withColumnRenamed("__k", "key_b").withColumnRenamed("sz", "sz_b"), "key_b")
        .filter(jac >= min_jaccard)
        .select("key_a", "key_b")
    )


def connected_components_star(
    edges: DataFrame, src: str = "key_a", dst: str = "key_b", max_iter: int = 25
) -> DataFrame:
    """Connected components by alternating LARGE-STAR / SMALL-STAR
    rounds (Kiveris et al. 2014, "Connected Components in MapReduce and
    Beyond" — the published O(log n)-round algorithm), → (key,
    component) with component = min key in the cluster.

    Each round:
      * large-star: every node points its STRICTLY LARGER neighbors at
        the minimum of its closed neighborhood — long chains collapse
        geometrically (this is the doubling step min-label propagation
        lacks: label-prop moves the min ONE hop per round, O(diameter));
      * small-star: every node re-hangs its smaller-or-equal neighbors
        (and itself) off that minimum, restoring the invariant that
        every edge points downward to a candidate root.

    At the fixed point the edge set is a star per component rooted at
    the component min. The rounds run on ``plans.fixpoint`` with its
    exact-equality stop rule (``SAME_STATE``): a round whose edge set
    provably changed pays no extra job, and termination is decided by
    exact set equality. Round 0 materializes the deduplicated input edge
    set (edge producers can be expensive LSH joins), so the first star
    round is compared against it. Each round is two bounded groupBy/join
    shuffles over the CURRENT edge set. Round count is O(log n) on ANY
    graph shape — the safe default for 100 TB duplicate graphs where
    chain-like components (A~B~C~... near-dup drift) make O(diameter)
    propagation unbounded. Deterministic."""

    def star_round(e: DataFrame, it: int) -> DataFrame:
        if it == 0:
            return e.filter(F.col("u") != F.col("v")).distinct()
        # large-star over the bidirectional neighborhood
        bidir = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        lmin = bidir.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
        large = (
            bidir.join(lmin, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star over larger-endpoint-owned edges
        edir = large.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).distinct()
        smin = edir.groupBy("u").agg(F.min("v").alias("m"))
        joined = edir.join(smin, "u")
        return (
            joined.select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(joined.select("u", F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    e, _ = fixpoint(
        star_round,
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v")),
        max_iter + 1,
        until=SAME_STATE,
    )
    # stars point child → root(min); roots map to themselves. Every round
    # keeps the node set of the input edges (each node stays an endpoint),
    # so the final stars list every node.
    nodes = e.select("u").union(e.select(F.col("v").alias("u"))).distinct()
    asg = e.select("u", F.col("v").alias("p"))
    return (
        nodes.join(asg, "u", "left")
        .select(F.col("u").alias("key"), F.coalesce("p", F.col("u")).alias("component"))
    )


def duplicate_clusters(edges: DataFrame, src: str = "key_a", dst: str = "key_b", max_iter: int = 25) -> DataFrame:
    """Connected components over a duplicate-pair edge list → (key,
    component) with component = min key in the cluster.

    Since round 7 this delegates to ``connected_components_star`` (the
    alternating large-star/small-star algorithm): the previous min-label
    propagation converged in O(cluster diameter) rounds, which is fine
    for the shallow near-clique clusters LSH banding yields but unbounded
    for chain-shaped components (A~B~C~... drift) — at 100 TB the
    O(log n) algorithm is the safe default (VERDICT r6 item 6). Output
    contract unchanged; the recursive-CTE oracles
    (`dup_cluster_assignments`, `semantic_dedup_keep`) and the
    long-chain property test pin the equivalence."""
    return connected_components_star(edges, src, dst, max_iter)


def strip_frequent_lines(
    df: DataFrame, key_col: str, text_col: str, max_df: int = 10
) -> DataFrame:
    """Line-level corpus dedup (the RefinedWeb recipe): split ``text_col``
    on newlines, count each distinct line's DOCUMENT frequency across the
    whole corpus (distinct ``key_col`` values — an internally repeated
    line counts once), strip lines appearing in more than ``max_df``
    documents, and rebuild each document order-preserved. Returns
    (key, n_lines, n_kept, cleaned_text) with cleaned_text NULL when every
    line was stripped.

    Scale shape: one line-keyed aggregation with map-side combine (the
    distinct-doc count partial-aggregates after an in-doc line distinct),
    one join back on the same key, and a per-document rebuild via in-group
    array_sort — no global sort. At 100 TB, pre-filter the df table with
    ``HAVING n_docs > max_df`` and broadcast it: only frequent lines
    matter for the strip decision."""
    lines = F.split(F.col(text_col), "\n")
    lined = df.select(
        F.col(key_col), F.posexplode(lines).alias("pos", "line")
    )
    df_tbl = lined.groupBy("line").agg(
        F.countDistinct(key_col).alias("n_docs")
    )
    kept = lined.join(df_tbl, "line")
    keep = F.col("n_docs") <= max_df
    kflag = keep.cast("long")
    return kept.groupBy(key_col).agg(
        F.count("*").cast("long").alias("n_lines"),
        F.sum(kflag).cast("long").alias("n_kept"),
        F.when(
            F.sum(kflag) > 0,
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.when(keep, F.struct(F.col("pos"), F.col("line"))))
                    ),
                    lambda s: s["line"],
                ),
                "\n",
            ),
        ).alias("cleaned_text"),
    )


def incremental_dedup(
    batch: DataFrame, index: DataFrame, key_col: str, fp_col: str
) -> DataFrame:
    """Incremental (between-crawls) dedup: flag each new-batch row against
    a standing fingerprint ``index`` (any DataFrame exposing ``fp_col``),
    then keep the minimum-key row per fingerprint among index-misses.
    Returns the batch columns plus ``dup_hist`` (1 = fingerprint already
    in the corpus) and ``accepted`` (1 = the canonical new row). History
    is never rescanned — the asymmetry that makes incremental curation
    cheap.

    Scale shape: one fingerprint-keyed left join against the (distinct)
    index — broadcast when the index fits, shuffle otherwise — and one
    window over per-fingerprint groups (tiny partitions by construction;
    the window orders within a fingerprint, never globally)."""
    from pyspark.sql import Window

    idx = index.select(F.col(fp_col)).distinct().withColumn("__hit", F.lit(1))
    flagged = (
        batch.join(idx, fp_col, "left")
        .withColumn("dup_hist", F.coalesce(F.col("__hit"), F.lit(0)))
        .drop("__hit")
    )
    w = Window.partitionBy(fp_col, "dup_hist").orderBy(key_col)
    ranked = flagged.withColumn(
        "rn", F.when(F.col("dup_hist") == 0, F.row_number().over(w))
    )
    return ranked.withColumn(
        "accepted", ((F.col("dup_hist") == 0) & (F.col("rn") == 1)).cast("int")
    ).drop("rn")


def prefix_filter_candidates(
    df: DataFrame,
    text_col: str,
    key_col: str,
    shingle_k: int = 5,
    threshold: float = 0.5,
) -> DataFrame:
    """EXACT-recall candidate pairs for threshold-Jaccard similarity via
    prefix filtering with PPJoin's positional filter (Bayardo, Ma &
    Srikant, WWW'07 "Scaling Up All Pairs Similarity Search"; Xiao, Wang,
    Lin & Yu, WWW'08 "Efficient Similarity Joins for Near Duplicate
    Detection"; public recipes): order grams GLOBALLY by ascending
    document frequency and emit only each document's first
    ``|d| - ceil(t*|d|) + 1`` grams (its rarest) as join keys. Any pair
    with true Jaccard >= t provably shares a gram in both prefixes (the
    rarest gram of the intersection sits within both — the grams ordered
    before it in either doc are outside the intersection). Each prefix
    pair then keeps only if the positional overlap bound can still reach
    t (see ``_prefix_candidates_from_shingled``), so recall is 1.0 with
    NO banding miss probability, unlike MinHash-LSH, while the pairs that
    share a few rare prefix grams and nothing after them are dropped
    before verification (ngram_jaccard_pairs at doc_id < 200: ~18,000
    prefix-join pairs -> 182-258 candidates at sf0.001-sf0.1).

    Why this is the 100 TB shape for exact-threshold joins: a bare
    gram=gram self-join explodes as df² on hot shingles (shared
    boilerplate). Under prefix filtering a gram joins only documents that
    have fewer than ``(1-t)|d|+1`` grams RARER than it — corpus-frequent
    grams sort last and all but vanish from prefixes, so hot keys are
    structurally suppressed rather than capped. Cost: one gram-df
    aggregation (map-side combined), one per-doc window to rank grams,
    and a prefix-prefix equi-join whose pair aggregation carries the
    bound.
    """
    shingled = df.select(
        F.col(key_col).alias("__k"), char_shingles(text_col, shingle_k).alias("grams")
    )
    return _prefix_candidates_from_shingled(shingled, threshold)


def _prefix_candidates_from_shingled(shingled: DataFrame, threshold: float) -> DataFrame:
    """Prefix-filter candidate tail over a prepared (__k, grams) frame —
    factored out (r15) so `prefix_filtered_jaccard_pairs` can feed it the
    same persisted shingle frame its verify stage uses instead of
    re-shingling the corpus per consumer.

    Positional bound (PPJoin). The prefix self-join's pair aggregation —
    the shuffle a ``distinct()`` of the pairs would pay anyway — groups by
    (key_a, key_b, sa, sb) and computes c = the number of shared prefix
    grams and pa, pb = the 1-based ranks in a and b of the LAST shared
    prefix gram (max(pos), the same gram on both sides because both docs
    rank grams in the one global (df, gram) order). Every common gram
    ranked at or before it lies inside both prefixes, so it is counted in
    c; at most min(sa - pa, sb - pb) common grams rank after it. The
    overlap o is therefore at most c + min(sa - pa, sb - pb), and
    Jaccard o / (sa + sb - o) >= t holds exactly when
    o * (1 + t) >= t * (sa + sb). A pair whose upper bound fails that
    test cannot qualify and is dropped.

    Both tests (the bound and the prefix length) carry a 1e-9 slack,
    which can only keep extra pairs for the exact verify to decide, so
    rounding never drops a qualifying pair: in binary floating point
    ``ceil(0.55 * 100)`` is 56, which would cut a 100-gram prefix one
    gram short and can lose a pair b ⊂ a at exactly J = t.

    The prefix test, projection, aggregation and bound are SQL strings:
    built through the Column API, the same expressions nearly double the
    py4j round trips of building ``prefix_filtered_jaccard_pairs`` (1,108
    against 588, py4j's memory-release commands not counted)."""
    g = shingled.select(
        "__k", F.size("grams").alias("sz"), F.explode("grams").alias("gram")
    )
    gram_df = g.groupBy("gram").agg(F.count("*").alias("df"))
    ranked = g.join(gram_df, "gram").withColumn(
        "pos",
        F.row_number().over(
            Window.partitionBy("__k").orderBy(F.asc("df"), F.asc("gram"))
        ),
    )
    t = repr(float(threshold))
    prefix = ranked.where(f"pos <= sz - ceil({t} * sz - 1e-9) + 1")
    a = prefix.selectExpr("__k AS key_a", "sz AS sa", "pos AS pos_a", "gram")
    b = prefix.selectExpr("__k AS key_b", "sz AS sb", "pos AS pos_b", "gram")
    return (
        a.join(b, "gram")
        .where("key_a < key_b")
        .groupBy("key_a", "key_b", "sa", "sb")
        .agg(F.expr("count(*) AS c"), F.expr("max(pos_a) AS pa"), F.expr("max(pos_b) AS pb"))
        .where(f"(c + least(sa - pa, sb - pb)) * (1 + {t}) >= {t} * (sa + sb) - 1e-9")
        .select("key_a", "key_b")
    )


def prefix_filtered_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    key_col: str,
    shingle_k: int = 5,
    threshold: float = 0.5,
) -> DataFrame:
    """All pairs with EXACT ``shingle_k``-gram Jaccard >= threshold, with
    the similarity value — prefix-filtered candidates pruned by PPJoin's
    positional overlap bound (perfect recall, see
    ``prefix_filter_candidates``) then exact set-intersection verify
    joined per (candidate key, gram), never a bare gram=gram equi-join.
    The bound leaves the verify join ~1% of the prefix-join pairs
    (ngram_jaccard_pairs: 182 of 18,156 at sf0.001), and each candidate
    drags ~grams/doc rows through it.
    Returns (key_a, key_b, jaccard). Identical semantics to brute-force
    all-pairs; the brute-force SQL remains the oracle.

    One shingling pass (r15, guide §1.2/§5): the candidate stage (df agg +
    per-doc ranking window) and the verify stage (two gram sides + the
    size table) previously each re-derived char_shingles from raw text —
    five serial rescans on the bench profile; one persisted (key, grams)
    frame now serves them all (size-gated + scratch-registered, r16 — see
    ``_persist_if_bounded``)."""
    shingled = _persist_if_bounded(
        df.select(
            F.col(key_col).alias("__k"), char_shingles(text_col, shingle_k).alias("grams")
        ),
        df,
    )
    cand = _prefix_candidates_from_shingled(shingled, threshold)
    sz = shingled.select("__k", F.size("grams").alias("sz"))
    g = shingled.select("__k", F.explode("grams").alias("gram"))
    inter = (
        cand.join(g.withColumnRenamed("__k", "key_a"), "key_a")
        .join(g.withColumnRenamed("__k", "key_b"), ["key_b", "gram"])
        .groupBy("key_a", "key_b")
        .agg(F.count("*").alias("n_common"))
    )
    jac = F.col("n_common").cast("double") / (
        F.col("sz_a") + F.col("sz_b") - F.col("n_common")
    )
    return (
        inter.join(sz.withColumnRenamed("__k", "key_a").withColumnRenamed("sz", "sz_a"), "key_a")
        .join(sz.withColumnRenamed("__k", "key_b").withColumnRenamed("sz", "sz_b"), "key_b")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("key_a", "key_b", "jaccard")
    )


def prefix_filtered_containment_pairs(
    df: DataFrame,
    text_col: str,
    key_col: str,
    shingle_k: int = 5,
    threshold_num: int = 4,
    threshold_den: int = 5,
) -> DataFrame:
    """All ORDERED pairs with exact shingle-set containment
    C(a, b) = |S(a) n S(b)| / |S(a)| >= num/den — the ASYMMETRIC near-dup
    relation (Broder 1997 "resemblance and containment"): doc a quoted or
    copied into a larger doc b scores high even when symmetric Jaccard is
    low. Candidates come from an asymmetric prefix filter (the
    containment member of the AllPairs/PPJoin family, Bayardo et al.
    WWW'07): with required overlap o = ceil(t*|a|), if none of a's
    |a| - o + 1 globally-rarest grams hit ANY gram of b, then
    S(a) n S(b) lies inside a's o - 1 most frequent grams — fewer than o,
    so the pair cannot qualify. Recall is therefore exactly 1.0: a's
    prefix joins b's FULL gram index (only the probe side can be pruned
    without knowing |a| at index time).

    The threshold is a RATIONAL (num/den) and every gate is integer
    arithmetic — o = (num*|a| + den - 1) div den, qualify iff
    den*inter >= num*|a| — because ceil(0.55 * 100) in binary floating
    point is ceil(55.00000000000001) = 56, not the intended 55.

    Scale shape: same as ``prefix_filter_candidates`` — hot grams sort
    last in the global df order and vanish from probe prefixes, so the
    index side's hot-gram postings meet only the rare-prefix stream,
    never each other. Verification intersects the two bounded gram
    arrays per candidate (JVM array_intersect), no second gram shuffle.
    Returns (key_a, key_b, containment, sz_a, n_common) with key_a the
    CONTAINED side."""
    shingled = df.select(
        F.col(key_col).alias("__k"), char_shingles(text_col, shingle_k).alias("grams")
    )
    g = shingled.select("__k", F.size("grams").alias("sz"), F.explode("grams").alias("gram"))
    gram_df = g.groupBy("gram").agg(F.count("*").alias("df"))
    ranked = g.join(gram_df, "gram").withColumn(
        "pos",
        F.row_number().over(Window.partitionBy("__k").orderBy(F.asc("df"), F.asc("gram"))),
    )
    o = F.floor((F.lit(threshold_num) * F.col("sz") + (threshold_den - 1)) / threshold_den)
    prefix = ranked.filter(F.col("pos") <= F.col("sz") - o + 1).select(
        F.col("__k").alias("key_a"), "gram"
    )
    index = g.select(F.col("__k").alias("key_b"), "gram")
    cand = (
        prefix.join(index, "gram")
        .filter(F.col("key_a") != F.col("key_b"))
        .select("key_a", "key_b")
        .distinct()
    )
    ga = shingled.select(F.col("__k").alias("key_a"), F.col("grams").alias("ga"))
    gb = shingled.select(F.col("__k").alias("key_b"), F.col("grams").alias("gb"))
    inter = F.size(F.array_intersect("ga", "gb"))
    return (
        cand.join(ga, "key_a")
        .join(gb, "key_b")
        .select(
            "key_a",
            "key_b",
            F.size("ga").alias("sz_a"),
            inter.alias("n_common"),
        )
        .filter(F.lit(threshold_den) * F.col("n_common") >= F.lit(threshold_num) * F.col("sz_a"))
        .select(
            "key_a",
            "key_b",
            (F.col("n_common").cast("double") / F.col("sz_a")).alias("containment"),
            "sz_a",
            F.col("n_common").cast("long").alias("n_common"),
        )
    )


def substring_window_duplicates(
    df: DataFrame,
    text_col: str,
    key_col: str,
    window_tokens: int = 30,
) -> DataFrame:
    """Exact-substring dedup via overlapping token-window fingerprints —
    the distributed stand-in for the suffix-array dedup of Lee et al.
    2021 ("Deduplicating Training Data Makes Language Models Better"):
    hash every ``window_tokens``-token window (stride 1); any document
    sharing a window with an EARLIER document (min-key owner) contains a
    verbatim substring of length >= window_tokens and is flagged. Returns
    one row per document: (key, n_windows, n_dup_windows, keep) with
    keep = true iff no window is owned by an earlier document.

    Scale shape: window fingerprints are a map-only transform (array
    slice + md5 — no Python); ownership is one aggregation keyed by the
    window hash, joined back on that same hash; the per-document verdict
    is a second bounded aggregation keyed by the document. Never a
    doc×doc or token×token pairing — the suffix array's role (find every
    long exact repeat) is played by the window-hash equi-key, which at
    100 TB shuffles (hash, key) pairs only.
    """
    from utils_spark.functions import word_tokens

    w = window_tokens
    # window hashing is CPU-bound map work (array slice + md5 per
    # position); a single-file local scan arrives as 1-2 partitions and
    # would serialize it — spread only when scan parallelism is low
    # (same guard as minhash_lsh_candidates)
    df = spread_low_parallelism(df)
    toks = word_tokens(text_col)
    # sequence(1, 0) counts DOWN in Spark — docs shorter than the window
    # must produce an empty index array, not [1, 0]
    idx = F.when(
        F.size(toks) >= w, F.sequence(F.lit(1), F.size(toks) - (w - 1))
    ).otherwise(F.expr("array()").cast("array<int>"))
    wins = F.transform(idx, lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i, w))))
    # materialize ONCE: the fingerprint table feeds three consumers
    # (ownership agg, verdict join, per-doc window counts) — without the
    # cut each would recompute the O(tokens × window) hashing pass
    hashed = cut_lineage(df.select(F.col(key_col).alias("__k"), wins.alias("wins")))
    exploded = hashed.select("__k", F.explode("wins").alias("wh"))
    owner = exploded.groupBy("wh").agg(F.min("__k").alias("owner"))
    verdict = (
        exploded.join(owner, "wh")
        .groupBy("__k")
        .agg(
            F.count("*").alias("n_windows"),
            F.sum((F.col("owner") < F.col("__k")).cast("long")).alias("n_dup_windows"),
        )
    )
    return (
        hashed.select("__k", F.size("wins").alias("n_all"))
        .join(verdict, "__k", "left")
        .select(
            F.col("__k").alias(key_col),
            F.coalesce("n_windows", F.lit(0)).cast("long").alias("n_windows"),
            F.coalesce("n_dup_windows", F.lit(0)).cast("long").alias("n_dup_windows"),
            (F.coalesce("n_dup_windows", F.lit(0)) == 0).alias("keep"),
        )
    )


def suffix_lcp_spans(
    df: DataFrame,
    text_col: str,
    key_col: str,
    max_len: int = 120,
    bucket_chars: int = 20,
    min_span: int = 40,
) -> DataFrame:
    """Maximal duplicated-span length per document — the suffix-array+LCP
    measurement of Lee et al. 2021 ("Deduplicating Training Data Makes
    Language Models Better") that fixed-window fingerprints
    (``substring_window_duplicates``) cannot give: for every document,
    the length in CHARACTERS of its longest substring (starting at a
    word boundary, normalized single-space join, capped at ``max_len``)
    that also appears in a DIFFERENT document. Returns one row per
    document with >=1 token: (key, n_suffixes, max_dup_span, is_dup)
    with is_dup = max_dup_span >= min_span.

    Distributed SA+LCP recipe: explode per-word-boundary suffixes capped
    to ``max_len`` chars; range-partition by the first ``bucket_chars``
    chars (two suffixes with LCP >= bucket_chars necessarily share a
    bucket, so spans >= min_span > bucket_chars are found EXACTLY; spans
    shorter than bucket_chars floor to whatever in-bucket neighbor
    exists); sort within bucket. In sorted order LCP(a, c) =
    min(adjacent LCPs between a..c), so a suffix's best cross-document
    partner is its NEAREST different-document neighbor — and collapsing
    same-document stretches into RUNS, that neighbor is the last/first
    suffix of the adjacent run: only each run's first row (vs the
    previous run's last) and last row (vs the next run's first) can
    carry the per-run maximum. The LCP itself is a JVM column expression
    — per-position single-char equality, first mismatch position — O(L)
    char compares per boundary, no UDF; single-run buckets (no
    different-doc neighbor at all) are filtered out before the LCP is
    evaluated.

    Scale shape: one (key, suffix) distinct shuffle, one bucket-keyed
    window sort, one (bucket, run) aggregation, two lag/leads over the
    per-run table (run count <= suffix count), one doc-keyed rollup.
    Never doc x doc. Honest caveat: bucket size follows the corpus's
    prefix distribution — boilerplate-heavy corpora make hot buckets
    (same skew class as sorted-neighborhood dedup); raise bucket_chars
    to split them (any value < min_span keeps exactness).
    """
    from utils_spark.functions import word_tokens

    if bucket_chars >= min_span:
        # the exactness contract (every span >= min_span is found) holds
        # only when two suffixes sharing min_span chars necessarily share
        # a bucket — i.e. bucket_chars < min_span; failing loudly beats a
        # silent dedup miss
        raise ValueError(
            f"bucket_chars ({bucket_chars}) must be < min_span ({min_span})"
        )
    # suffix construction is CPU-bound map work (O(tokens x tail-join)
    # per doc); a single-file local scan arrives as 1-2 partitions and
    # would serialize it — spread only when scan parallelism is low
    # (same guard as substring_window_duplicates)
    df = spread_low_parallelism(df)
    toks = word_tokens(text_col)
    n = F.size(toks)
    idx = F.when(n >= 1, F.sequence(F.lit(1), n)).otherwise(
        F.expr("array()").cast("array<int>")
    )
    sfx_arr = F.transform(
        idx,
        lambda i: F.substring(
            F.array_join(F.slice(toks, i, n - i + F.lit(1)), " "), 1, max_len
        ),
    )
    suf = (
        df.select(F.col(key_col).alias("__k"), F.explode(sfx_arr).alias("sfx"))
        .distinct()
        .withColumn("bkt", F.substring("sfx", 1, bucket_chars))
    )
    w = Window.partitionBy("bkt").orderBy("sfx", "__k")
    chg = (
        F.lag("__k").over(w).isNull() | (F.col("__k") != F.lag("__k").over(w))
    ).cast("long")
    runs = (
        suf.withColumn(
            "run_id",
            F.sum(chg).over(
                Window.partitionBy("bkt")
                .orderBy("sfx", "__k")
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .groupBy("bkt", "run_id")
        .agg(
            F.first("__k").alias("__k"),
            F.min("sfx").alias("first_sfx"),
            F.max("sfx").alias("last_sfx"),
        )
    )
    wr = Window.partitionBy("bkt").orderBy("run_id")

    def lcp(a, b):
        # position of the first per-char mismatch, minus one — O(max_len)
        # single-char compares (prefix equality is monotone, so the first
        # mismatch at position p means LCP = p-1); no mismatch in
        # 1..max_len means one string is a prefix of the other (substr
        # past the end yields '' on both sides) -> LCP = shorter length
        mism = F.array_position(
            F.transform(
                F.sequence(F.lit(1), F.lit(max_len)),
                lambda i: a.substr(i, F.lit(1)) == b.substr(i, F.lit(1)),
            ),
            False,
        )
        fold = F.when(mism == 0, F.least(F.length(a), F.length(b))).otherwise(mism - 1)
        return F.when(b.isNull(), F.lit(0)).otherwise(fold)

    nbr = runs.select(
        "__k",
        "first_sfx",
        "last_sfx",
        F.lag("last_sfx").over(wr).alias("prev_last"),
        F.lead("first_sfx").over(wr).alias("next_first"),
    ).filter(F.col("prev_last").isNotNull() | F.col("next_first").isNotNull())
    spans = nbr.select(
        "__k",
        F.greatest(
            lcp(F.col("first_sfx"), F.col("prev_last")),
            lcp(F.col("last_sfx"), F.col("next_first")),
        ).alias("span"),
    )
    per_doc = spans.groupBy("__k").agg(F.max("span").alias("max_dup_span"))
    counts = suf.groupBy("__k").agg(F.count("*").alias("n_suffixes"))
    return counts.join(per_doc, "__k", "left").select(
        F.col("__k").alias(key_col),
        F.col("n_suffixes").cast("long").alias("n_suffixes"),
        F.coalesce("max_dup_span", F.lit(0)).cast("long").alias("max_dup_span"),
        (F.coalesce("max_dup_span", F.lit(0)) >= min_span).alias("is_dup"),
    )
