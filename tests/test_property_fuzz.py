"""Hypothesis fuzz tests: operator semantics vs pure-Python references on
arbitrary generated inputs (SURVEY §5 industrialization of the reference's
oracle-comparison practice).
"""

from __future__ import annotations

import math
import os

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

pytestmark = pytest.mark.filterwarnings("ignore")

# Deep one-off runs: SPARK_GRAFT_FUZZ_EXAMPLES=60 python -m pytest
# tests/test_property_fuzz.py (CI default stays 12 to keep the suite fast)
FUZZ_EXAMPLES = int(os.environ.get("SPARK_GRAFT_FUZZ_EXAMPLES", "12"))

SETTINGS = dict(
    max_examples=FUZZ_EXAMPLES,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


@given(
    pvals=st.lists(
        st.floats(min_value=0.0, max_value=1.0, allow_nan=False), min_size=1, max_size=40
    )
)
@settings(**SETTINGS)
def test_bh_adjust_fuzz(spark, pvals):
    from tests.test_operators import _bh_reference

    from utils_spark.operators import bh_adjust

    df = spark.createDataFrame([(i, p) for i, p in enumerate(pvals)], ["id", "p"])
    got = {r["id"]: r["p_adjusted"] for r in bh_adjust(df, "p", tiebreak_col="id").collect()}
    want = _bh_reference(pvals)
    for i, w in enumerate(want):
        assert math.isclose(got[i], w, rel_tol=1e-9, abs_tol=1e-12)


@given(
    vals=st.lists(
        st.floats(min_value=-1e6, max_value=1e6, allow_nan=False), min_size=3, max_size=50
    )
)
@settings(**SETTINGS)
def test_mad_outliers_fuzz(spark, vals):
    import numpy as np

    from utils_spark.operators import mad_outlier_flags

    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], ["id", "x"])
    got = {r["id"]: r["is_outlier"] for r in mad_outlier_flags(df, "x").collect()}
    med = float(np.median(vals))
    mad = float(np.median(np.abs(np.array(vals) - med))) * 1.4826
    for i, v in enumerate(vals):
        want = v < med - 3 * mad or v > med + 3 * mad
        # skip knife-edge cases where float assoc. could differ
        if mad > 0 and min(abs(v - (med - 3 * mad)), abs(v - (med + 3 * mad))) < 1e-9 * max(1, abs(v)):
            continue
        assert got[i] == want, (i, v, med, mad)


@given(
    names=st.lists(st.sampled_from(["a", "b", "c", "d"]), min_size=1, max_size=30)
)
@settings(**SETTINGS)
def test_make_unique_fuzz(spark, names):
    from utils_spark.operators import with_unique_names

    df = spark.createDataFrame([(i, n) for i, n in enumerate(names)], ["id", "name"])
    got = {r["id"]: r["u"] for r in with_unique_names(df, "name", "id", "u").collect()}
    # python reference: R make.unique over id-sorted order
    seen: dict[str, int] = {}
    for i, n in enumerate(names):
        k = seen.get(n, 0)
        want = n if k == 0 else f"{n}.{k}"
        seen[n] = k + 1
        assert got[i] == want
    # uniqueness guaranteed
    assert len(set(got.values())) == len(names)


@given(n_per=st.integers(min_value=1, max_value=8), seed=st.integers(min_value=0, max_value=5))
@settings(**SETTINGS)
def test_stratified_sample_fuzz(spark, n_per, seed):
    from utils_spark.operators import stratified_sample_exact

    rows = [(f"k{i}", f"g{i % 3}") for i in range(30)]
    df = spark.createDataFrame(rows, ["key", "grp"])
    out = stratified_sample_exact(df, "grp", "key", n_per, seed=seed).collect()
    from collections import Counter

    c = Counter(r["grp"] for r in out)
    for g in ("g0", "g1", "g2"):
        assert c[g] == min(n_per, 10)
    # python reference of the same md5 ordering: exact row-level agreement
    import hashlib

    by_g: dict[str, list[str]] = {}
    for k, g in rows:
        by_g.setdefault(g, []).append(k)
    want = set()
    for g, ks in by_g.items():
        ordered = sorted(ks, key=lambda k: hashlib.md5(f"{k}:{seed}".encode()).hexdigest())
        want |= {(g, k) for k in ordered[:n_per]}
    assert {(r["grp"], r["key"]) for r in out} == want


def test_salted_join_matches_plain(spark):
    from utils_spark.operators.skew import salted_join

    # hot key: 500 rows of key=1, few of others
    big = spark.createDataFrame(
        [(1, i) for i in range(500)] + [(2, i) for i in range(5)] + [(3, i) for i in range(5)],
        ["k", "v"],
    )
    small = spark.createDataFrame([(1, "hot"), (2, "cold"), (4, "unused")], ["k", "name"])
    got = salted_join(big, small, "k").groupBy("k", "name").count().collect()
    want = {(1, "hot"): 500, (2, "cold"): 5}
    assert {(r["k"], r["name"]): r["count"] for r in got} == want


@given(
    lines=st.lists(
        st.text(
            alphabet=st.characters(whitelist_categories=("Lu", "Ll", "Nd"), whitelist_characters=" .|"),
            max_size=40,
        ),
        min_size=0,
        max_size=8,
    )
)
@settings(max_examples=max(30, FUZZ_EXAMPLES), deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_boilerplate_rules_idempotent_and_preserving(spark, lines):
    """The line filter must be idempotent (stripping twice == once) and
    must keep every line no rule matches, byte-for-byte, in order."""
    from pyspark.sql import functions as F

    text = "\n".join(l.replace("\n", " ") for l in lines)
    df = spark.createDataFrame([(text,)], ["t"])

    def strip(col):
        ls = F.split(col, "\n")
        kept = F.filter(
            ls,
            lambda x: ~(
                x.contains(" | ")
                | F.lower(x).startswith("copyright")
                | F.lower(x).contains("subscribe to our newsletter")
            ),
        )
        return F.array_join(kept, "\n")

    once, twice = df.select(strip(F.col("t")).alias("a")).select(
        "a", strip(F.col("a")).alias("b")
    ).first()
    assert once == twice  # idempotent
    def is_boiler(l):
        low = l.lower()
        return " | " in l or low.startswith("copyright") or "subscribe to our newsletter" in low
    want = "\n".join(l for l in text.split("\n") if not is_boiler(l))
    assert once == want  # exact keep semantics


@given(reps=st.integers(min_value=1, max_value=50), alpha=st.integers(min_value=1, max_value=8))
@settings(max_examples=max(20, FUZZ_EXAMPLES), deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_char_entropy_bounds(spark, reps, alpha):
    """Shannon char entropy obeys 0 <= h <= ln(distinct_chars), with
    equality at 0 for single-char docs and at ln(d) for uniform docs."""
    import math

    from utils_spark.registry import load_all  # noqa: F401  (query registered)
    from pyspark.sql import functions as F

    text = "".join(chr(ord("a") + i) for i in range(alpha)) * reps  # uniform
    df = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    cs = F.transform(
        F.sequence(F.lit(1), F.length("text")), lambda i: F.col("text").substr(i, F.lit(1))
    )
    ex = df.select("doc_id", F.length("text").alias("n"), F.explode(cs).alias("c"))
    per = ex.groupBy("doc_id", "c").agg(F.count("*").alias("cnt"), F.first("n").alias("n"))
    p = F.col("cnt").cast("double") / F.col("n")
    h = per.groupBy("doc_id").agg(F.sum(-p * F.log(p)).alias("h")).first()["h"]
    assert abs(h - math.log(alpha)) < 1e-9  # uniform hits the upper bound
    if alpha == 1:
        assert abs(h) < 1e-12


@given(
    n_docs=st.integers(min_value=2, max_value=8),
    n_dups=st.integers(min_value=0, max_value=4),
    seed=st.integers(min_value=0, max_value=10),
)
@settings(**SETTINGS)
def test_lsh_verified_pairs_fuzz(spark, n_docs, n_dups, seed):
    """lsh_verified_pairs must equal brute-force exact-Jaccard pairs on
    corpora with a constructed margin: near-dups are one-word edits of a
    base doc (jaccard ~0.85-0.92 — these short docs sit CLOSER to the 0.8
    threshold than the testdata corpus does), distinct docs share no
    content words (jaccard ~= 0). Banding is therefore chosen to match
    THIS margin: 16 bands x 2 rows puts the per-pair miss probability at
    (1-j^2)^16 ~= 4e-11 at j=0.88 (the operator's 8x4 default is tuned
    for the corpus's j>=0.93 gap and would miss ~7e-4 of pairs here —
    banding must always be chosen against the corpus's similarity gap,
    which is exactly what this test documents). Exact verification must
    kill every false candidate regardless."""
    import random

    from utils_spark.operators.dedup import lsh_verified_pairs

    rng = random.Random(seed)
    words = [f"tokenword{seed}x{i}" for i in range(40)]
    docs = {}
    for i in range(n_docs):
        base = rng.sample(words, 12) + [f"uniq{i}q{j}" for j in range(8)]
        docs[i] = " ".join(base)
    for j in range(min(n_dups, n_docs)):
        text = docs[j].split()
        text[rng.randrange(len(text))] = "editedword"
        docs[100 + j] = " ".join(text)  # near-dup of doc j

    def shingles(t, k=5):
        return {t[i : i + k] for i in range(max(len(t) - k + 1, 1))}

    truth = set()
    ids = sorted(docs)
    for a in range(len(ids)):
        for b in range(a + 1, len(ids)):
            sa, sb = shingles(docs[ids[a]]), shingles(docs[ids[b]])
            if len(sa & sb) / len(sa | sb) >= 0.8:
                truth.add((ids[a], ids[b]))

    df = spark.createDataFrame(list(docs.items()), ["id", "text"])
    got = {
        (r["key_a"], r["key_b"])
        for r in lsh_verified_pairs(
            df, "text", "id", n_hashes=32, n_bands=16, min_jaccard=0.8
        ).collect()
    }
    assert got == truth, (got, truth)


@given(
    docs=st.lists(
        st.lists(st.sampled_from(["a", "b", "c", "d", "e", "f"]), min_size=1, max_size=5),
        min_size=1,
        max_size=12,
    ),
    max_df=st.integers(min_value=1, max_value=4),
)
@settings(**SETTINGS)
def test_strip_frequent_lines_fuzz(spark, docs, max_df):
    """strip_frequent_lines vs a pure-python reference on random corpora:
    df counts DISTINCT docs (internal repeats count once), strip keeps
    order, all-stripped docs yield NULL cleaned_text."""
    from utils_spark.operators.dedup import strip_frequent_lines

    df = spark.createDataFrame(
        [(i, "\n".join(lines)) for i, lines in enumerate(docs)], ["key", "text"]
    )
    got = {r["key"]: r for r in strip_frequent_lines(df, "key", "text", max_df=max_df).collect()}

    dfreq = {}
    for lines in docs:
        for line in set(lines):
            dfreq[line] = dfreq.get(line, 0) + 1
    for i, lines in enumerate(docs):
        kept = [ln for ln in lines if dfreq[ln] <= max_df]
        assert got[i]["n_lines"] == len(lines)
        assert got[i]["n_kept"] == len(kept)
        assert got[i]["cleaned_text"] == ("\n".join(kept) if kept else None)


@given(
    batch=st.lists(st.sampled_from("pqrs"), min_size=1, max_size=12),
    hist=st.lists(st.sampled_from("pqrs"), min_size=0, max_size=6),
)
@settings(**SETTINGS)
def test_incremental_dedup_fuzz(spark, batch, hist):
    """incremental_dedup vs a pure-python reference: history hits flagged,
    exactly one accepted (min key) per novel fingerprint."""
    from utils_spark.operators.dedup import incremental_dedup

    bdf = spark.createDataFrame([(i, fp) for i, fp in enumerate(batch)], ["key", "fp"])
    hdf = spark.createDataFrame([(fp,) for fp in hist], ["fp"]) if hist else bdf.filter("1=0").select("fp")
    got = {r["key"]: r for r in incremental_dedup(bdf, hdf, "key", "fp").collect()}

    hist_set = set(hist)
    first_novel = {}
    for i, fp in enumerate(batch):
        if fp not in hist_set and fp not in first_novel:
            first_novel[fp] = i
    for i, fp in enumerate(batch):
        assert got[i]["dup_hist"] == (1 if fp in hist_set else 0)
        assert got[i]["accepted"] == (1 if first_novel.get(fp) == i else 0)


@given(
    ref_docs=st.lists(
        st.lists(st.sampled_from(["x", "y", "z"]), min_size=2, max_size=6),
        min_size=1,
        max_size=6,
    ),
    docs=st.lists(
        st.lists(st.sampled_from(["x", "y", "z", "q"]), min_size=0, max_size=6),
        min_size=1,
        max_size=6,
    ),
)
@settings(**SETTINGS)
def test_bigram_lm_scores_fuzz(spark, ref_docs, docs):
    """bigram_lm_scores vs a pure-python add-k bigram LM on random tiny
    corpora — incl. out-of-vocab tokens (q) and <2-token docs (dropped)."""
    from collections import Counter

    from utils_spark.operators.textmodel import bigram_lm_scores

    k = 0.5
    rdf = spark.createDataFrame([(" ".join(d),) for d in ref_docs], ["text"])
    ddf = spark.createDataFrame(
        [(i, " ".join(d)) for i, d in enumerate(docs)], ["key", "text"]
    )
    got = {r["key"]: r for r in bigram_lm_scores(ddf, "key", "text", ref=rdf, smoothing_k=k).collect()}

    uni = Counter(w for d in ref_docs for w in d)
    bi = Counter((d[i], d[i + 1]) for d in ref_docs for i in range(len(d) - 1))
    V = len(uni)
    for i, d in enumerate(docs):
        if len(d) < 2:
            assert i not in got
            continue
        lps = [
            math.log((bi.get((d[j], d[j + 1]), 0) + k) / (uni.get(d[j], 0) + k * V))
            for j in range(len(d) - 1)
        ]
        ce = -sum(lps) / len(lps)
        assert got[i]["n_bigrams"] == len(d) - 1
        assert math.isclose(got[i]["cross_entropy"], round(ce, 6), rel_tol=0, abs_tol=5e-6)
        assert math.isclose(got[i]["perplexity"], round(math.exp(ce), 6), rel_tol=1e-5)


@given(
    docs=st.lists(
        st.lists(
            st.text(alphabet="abc", min_size=1, max_size=6),
            min_size=1,
            max_size=5,
        ),
        min_size=1,
        max_size=5,
    ),
    n_merges=st.integers(min_value=1, max_value=6),
)
@settings(**SETTINGS)
def test_bpe_encode_expr_equals_trainer_vocab_fuzz(spark, docs, n_merges):
    """The round-9 apply paths rest on a structural identity: chaining
    `bpe_encode_expr`'s greedy merge folds over a word equals looking the
    word up in `bpe_train(return_vocab=True)`'s final dictionary (the
    dictionary IS the fold chain applied to the word table). Fuzz random
    tiny corpora — heavy with identical-letter runs ('aaa' with (a,a))
    and re-mergeable substrings, the classic greedy-BPE tie hazards — and
    assert the two agree word-for-word, so a future trainer change that
    silently breaks the identity (an extra filter, a changed tie-break)
    is caught here rather than at 100 TB tail words."""
    from pyspark.sql import functions as F

    from utils_spark.operators.textmodel import bpe_encode_expr, bpe_train

    df = spark.createDataFrame([(" ".join(d),) for d in docs], ["text"])
    merges_df, vocab = bpe_train(df, "text", n_merges=n_merges, return_vocab=True)
    merges = [
        (r.left_tok, r.right_tok) for r in merges_df.orderBy("merge_round").collect()
    ]
    want = {r["w"]: list(r["toks"]) for r in vocab.collect()}
    got_df = (
        vocab.select("w")
        .select("w", bpe_encode_expr(F.col("w"), merges).alias("toks"))
        .collect()
    )
    got = {r["w"]: list(r["toks"]) for r in got_df}
    assert got == want


@given(
    docs=st.lists(
        st.lists(
            # tiny alphabet + short words maximize shared prefixes and
            # cross-doc suffix collisions — the hazards of the SA
            # adjacency/run-collapse argument
            st.text(alphabet="abc", min_size=1, max_size=3),
            min_size=1,
            max_size=8,
        ),
        min_size=2,
        max_size=6,
    ),
    bucket_chars=st.integers(min_value=1, max_value=4),
)
@settings(**SETTINGS)
def test_suffix_lcp_spans_fuzz(spark, docs, bucket_chars):
    """suffix_lcp_spans' algebraic claim — max cross-doc LCP equals the
    max over nearest-different-doc neighbors of runs in sorted suffix
    order, within first-`bucket_chars` buckets — fuzzed against a
    brute-force all-pairs reference. The reference applies the SAME
    bucket restriction (pairs in different buckets are invisible by
    design; with bucket_chars <= every compared LCP's length the two
    coincide, which the dedicated unit test pins at bucket_chars=1)."""
    from utils_spark.operators.dedup import suffix_lcp_spans

    MAXLEN = 12
    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r.doc_id: r
        for r in suffix_lcp_spans(
            df, "text", "doc_id", max_len=MAXLEN, bucket_chars=bucket_chars, min_span=5
        ).collect()
    }

    def suffixes(ws):
        return {(" ".join(ws[i:]))[:MAXLEN] for i in range(len(ws))}

    def lcp(a, b):
        n = 0
        for x, y in zip(a, b):
            if x != y:
                break
            n += 1
        return n

    sfx = {i: suffixes(ws) for i, ws in enumerate(docs)}
    for i, r in out.items():
        best = 0
        for j in sfx:
            if j == i:
                continue
            for a in sfx[i]:
                for b in sfx[j]:
                    if a[:bucket_chars] == b[:bucket_chars]:
                        best = max(best, lcp(a, b))
        assert r.n_suffixes == len(sfx[i]), (i, r)
        assert r.max_dup_span == best, (i, r.max_dup_span, best, docs)
        assert r.is_dup == (best >= 5)


@given(
    data=st.lists(
        st.tuples(st.integers(min_value=0, max_value=7),  # barcode id
                  st.integers(min_value=0, max_value=3)),  # gene id
        min_size=6,
        max_size=60,
    ),
    lower=st.integers(min_value=1, max_value=8),
    n_sims=st.integers(min_value=5, max_value=25),
    seed=st.integers(min_value=0, max_value=9),
)
@settings(max_examples=max(8, FUZZ_EXAMPLES // 2), deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow])
def test_ambient_pvalues_fuzz(spark, data, lower, n_sims, seed):
    """Whole-operator differential fuzz: ambient_pvalues on arbitrary tiny
    (barcode, gene) multisets must EXACTLY reproduce the pure-python
    hashlib/integer-grid replay — totals, micro statistics, p-values and
    limited flags — across arbitrary lower/n_sims/seed. Empty tested sets
    (everything ambient) must yield an empty result, not an error."""
    from tests.test_operators import _ambient_reference

    from utils_spark.operators.qc import ambient_pvalues

    rows = [(f"b{b}", f"g{g}") for b, g in data]
    df = spark.createDataFrame(rows, ["bc", "gene"])
    got = {
        r["bc"]: (r["total"], r["obs_micro"], r["pvalue"], r["limited"])
        for r in ambient_pvalues(
            df, "bc", "gene", lower=lower, n_sims=n_sims, seed=seed
        ).collect()
    }
    want = _ambient_reference(rows, lower=lower, n_sims=n_sims, seed=seed)
    assert set(got) == set(want)
    for b, (t, obs, pv, lim) in want.items():
        assert got[b] == (t, obs, pv, lim), (b, got[b], (t, obs, pv, lim))
