"""Corpus-level text modeling operators: n-gram language-model scoring
(the CCNet-style perplexity quality gate) and BPE merge-pair counting
(the tokenizer trainer's inner loop) as reusable building blocks over
arbitrary (key, text) DataFrames.

Design for 100 TB: the LM's count tables are bounded by observed
vocabulary, broadcast for map-only corpus scoring; BPE counting collapses
the corpus to its word-frequency table first so pair tallies cost
O(vocab × word-length), independent of corpus size. Zero UDFs anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from utils_spark.functions import word_tokens
from utils_spark.plans import cut_lineage, fixpoint
from utils_spark.session import session_store


def _bigram_structs(toks_col: str):
    """array<struct<w1,w2>> of adjacent token pairs; empty for <2 tokens
    (sequence() DESCENDS when end < start, hence the explicit guard)."""
    idx = F.when(
        F.size(toks_col) >= 2, F.sequence(F.lit(1), F.size(toks_col) - 1)
    ).otherwise(F.expr("array()").cast("array<int>"))
    return F.transform(
        idx,
        lambda i: F.struct(
            F.element_at(F.col(toks_col), i).alias("w1"),
            F.element_at(F.col(toks_col), i + 1).alias("w2"),
        ),
    )


# Per-order n-gram model cap for the LM scorers: each broadcast count
# table keeps only its top LM_MAX_NGRAMS entries (count desc, gram asc —
# deterministic), the count-cutoff pruning of Brants et al. 2007. N-gram
# TYPE counts grow near-linearly with corpus size, so an uncapped table
# is the same Heaps'-law broadcast OOM as the tokenizer word dictionary;
# capped-out n-grams degrade exactly as designed (backoff / smoothing
# floor). Never binds on the test fixtures (~31 distinct words) — the
# forced-small-K test proves the bind semantics cross-engine.
LM_MAX_NGRAMS = 262144


def _top_ngrams(counts: DataFrame, cnt_col: str, keys: list[str], k: int) -> DataFrame:
    """Deterministic top-k rows of an n-gram count table (count desc,
    then gram keys asc — a total order, so TakeOrdered is stable)."""
    return counts.orderBy(F.desc(cnt_col), *[F.asc(c) for c in keys]).limit(k)


def bigram_lm_scores(
    df: DataFrame,
    key_col: str,
    text_col: str,
    ref: DataFrame,
    smoothing_k: float = 0.5,
    max_ngrams: int | None = None,
) -> DataFrame:
    """Score every document of ``df`` under an add-k-smoothed bigram word
    LM trained on ``ref`` (a DataFrame exposing ``text_col`` — the
    in-domain reference corpus):  P(w2 | w1) = (c(w1,w2) + k) /
    (c(w1) + k·V).  Returns (key, n_bigrams, cross_entropy, perplexity)
    for documents with ≥ 2 tokens; cross-entropy is the mean −ln P over
    the document's bigrams (lower = more in-domain — the CCNet filter
    signal). Rounded to 6dp for cross-engine-stable comparisons.

    Scale shape: the model (unigram + bigram counts + vocab size) is two
    map-side-combined aggregations over the reference, CAPPED to the top
    ``max_ngrams`` entries per order (count-cutoff pruning, Brants et
    al. 2007 — an uncapped n-gram table grows with the reference corpus
    and would OOM the broadcast) — the capped model broadcasts bounded,
    so corpus scoring is map-only plus one per-key combine. Pruning is
    NESTED: a capped bigram survives only if its context unigram w1 also
    survived, so a matched bigram always has a matched denominator and
    P(w2|w1) = (c12+k)/(c1+kV) ≤ (c1+k)/(c1+kV) < 1 — without the
    nesting, a surviving (w1,w2) whose w1 was capped out would score
    (c12+k)/(kV), which can exceed 1 (negative cross-entropy
    contributions). Capped-out bigrams hit the add-k smoothing floor
    exactly like unseen ones. V is the CAPPED vocabulary size (the
    model's actual support)."""
    if max_ngrams is None:
        max_ngrams = LM_MAX_NGRAMS
    toks = word_tokens(text_col)
    doc = df.select(F.col(key_col), toks.alias("__toks"))
    reft = ref.select(toks.alias("__toks"))
    uni = _top_ngrams(
        reft.select(F.explode("__toks").alias("w1"))
        .groupBy("w1")
        .agg(F.count("*").alias("__uni_c")),
        "__uni_c",
        ["w1"],
        max_ngrams,
    )
    vocab = uni.agg(F.count("*").cast("double").alias("__v"))
    bi = _top_ngrams(
        reft.select(F.explode(_bigram_structs("__toks")).alias("bg"))
        .select(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("__bi_c")),
        "__bi_c",
        ["w1", "w2"],
        max_ngrams,
    ).join(uni.select("w1"), "w1", "left_semi")
    docbi = doc.select(
        key_col, F.explode(_bigram_structs("__toks")).alias("bg")
    ).select(key_col, F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    lp = F.log(
        (F.coalesce(F.col("__bi_c"), F.lit(0)) + smoothing_k)
        / (F.coalesce(F.col("__uni_c"), F.lit(0)) + smoothing_k * F.col("__v"))
    )
    ce = -F.avg("__lp")
    return (
        docbi.join(F.broadcast(bi), ["w1", "w2"], "left")
        .join(F.broadcast(uni), "w1", "left")
        .crossJoin(F.broadcast(vocab))
        .select(key_col, lp.alias("__lp"))
        .groupBy(key_col)
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.round(ce, 6).alias("cross_entropy"),
            F.round(F.exp(ce), 6).alias("perplexity"),
        )
    )


def bpe_pair_counts(df: DataFrame, text_col: str) -> DataFrame:
    """Adjacent character-pair counts over the corpus, weighted by word
    occurrence — the counting round of BPE tokenizer training. Returns
    (pair, pair_count); the caller ranks/limits (TakeOrdered) and applies
    the chosen merge.

    Scale shape: the corpus collapses to its WORD FREQUENCY TABLE first
    (the classic BPE-trainer trick — pair counting is then O(vocab ×
    word-length) regardless of corpus size), then one bounded pair
    aggregation (≤ alphabet² keys)."""
    words = (
        df.select(F.explode(word_tokens(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("n"))
    )
    idx = F.when(
        F.length("w") >= 2, F.sequence(F.lit(1), F.length("w") - 1)
    ).otherwise(F.expr("array()").cast("array<int>"))
    pair_rows = words.select(
        "n",
        F.explode(F.transform(idx, lambda i: F.col("w").substr(i, F.lit(2)))).alias("pair"),
    )
    return pair_rows.groupBy("pair").agg(F.sum("n").cast("long").alias("pair_count"))


def _greedy_merge_fold(l: str, r: str, toks=None):
    """Greedy left-to-right (l, r) -> l||r merge over a token-array
    expression (default: the ``toks`` column) as a JVM-side fold: an
    occurrence merges iff the accumulator's last token is exactly ``l``
    and the current token is ``r``, so consumed tokens can't re-match
    ("aaa" with (a,a) -> [aa, a]) and a merged token only matches rules
    addressed to it. Shared by the BPE and WordPiece trainers (identical
    merge semantics; they differ only in the pair SELECTION criterion)
    and by the map-only apply side (``bpe_encode_expr``)."""
    merged = l + r
    return F.aggregate(
        F.col("toks") if toks is None else toks,
        F.expr("CAST(array() AS array<string>)"),
        lambda acc, x: F.when(
            (F.size(acc) > 0) & (F.element_at(acc, -1) == F.lit(l)) & (x == F.lit(r)),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def bpe_encode_expr(word, merges: list[tuple[str, str]]):
    """MAP-ONLY BPE encoding expression: split ``word`` (a string Column)
    to characters, then chain one greedy merge fold per learned merge
    rule, in training order — byte-identical to looking the word up in
    the trainer's final word→tokens vocabulary, because that vocabulary
    IS the result of applying the same fold sequence to the word table.

    This is the 100 TB apply shape: the only shipped artifact is the
    merge TABLE (n_merges rows, collected driver-side — same bounded
    driver-scalar pattern as the trainer's per-round argmax), never the
    corpus-derived word dictionary, whose distinct-word cardinality grows
    with corpus size (Heaps' law) and would eventually OOM any broadcast.
    Expression depth is linear in n_merges (each fold references its
    input exactly once)."""
    toks = F.transform(
        F.sequence(F.lit(1), F.length(word)), lambda i: word.substr(i, F.lit(1))
    )
    for l, r in merges:
        toks = _greedy_merge_fold(l, r, toks)
    return toks


def _word_symbol_table(df: DataFrame, text_col: str) -> DataFrame:
    """(w, toks, n) word-frequency table with words split to character
    symbol sequences — the shared starting state of BPE and WordPiece
    training. One corpus-sized shuffle; everything after is
    O(vocab x word-length)."""
    sep = "\x1f"
    chars = F.transform(
        F.sequence(F.lit(1), F.length("w")), lambda i: F.col("w").substr(i, F.lit(1))
    )
    return (
        df.select(F.explode(word_tokens(text_col)).alias("w"))
        .filter(~F.col("w").contains(sep))  # sentinel guard (oracle twin)
        .groupBy("w")
        .agg(F.count("*").alias("n"))
        .select("w", chars.alias("toks"), "n")
    )


def bpe_train(df: DataFrame, text_col: str, n_merges: int = 8, return_vocab: bool = False):
    """FULL iterative BPE tokenizer training (Sennrich et al. 2016, the
    public neural-MT subword recipe): collapse the corpus to its word
    frequency table once, then repeat ``n_merges`` rounds of
    count-adjacent-pairs → pick argmax (count desc, pair asc — fully
    deterministic) → greedily merge that pair left-to-right in every
    word's token sequence. Returns the learned merge table
    (merge_round, left_tok, right_tok, pair_count) — the artifact a BPE
    tokenizer ships; with ``return_vocab=True`` also returns the final
    word→token-array vocabulary table, the broadcastable dictionary the
    APPLY side joins against to encode a corpus map-only.

    Scale shape: after the one corpus-sized shuffle that builds the word
    frequency table, EVERY round is O(vocab × word-length) regardless of
    corpus size — a bounded pair aggregation plus a 1-row argmax collect
    (the same driver-scalar pattern as the Louvain convergence probe).
    The merge itself is a JVM-side array fold (`aggregate`), no UDF; the
    round loop (``_merge_rounds``, shared with ``wordpiece_train``) runs
    on ``plans.fixpoint``.

    The fold implements exact greedy BPE merge semantics: scanning left
    to right, an occurrence is merged iff the accumulator's last token is
    `left` and the current token is `right` — consumed tokens can't
    re-match (e.g. "aaa" with (a,a) → [aa, a]), and merged tokens only
    match rules addressed to them ((a,b) never re-fires on "ab").
    """
    merges, words = _merge_rounds(
        df, text_col, n_merges, lambda words, pairs: pairs.orderBy(F.desc("cnt"), F.asc("l"), F.asc("r"))
    )
    merges_df = df.sparkSession.createDataFrame(
        merges, "merge_round int, left_tok string, right_tok string, pair_count long"
    )
    if return_vocab:
        return merges_df, words.select("w", "toks")
    return merges_df


def wordpiece_train(df: DataFrame, text_col: str, n_merges: int = 8) -> DataFrame:
    """FULL iterative WordPiece tokenizer training (Schuster & Nakajima,
    ICASSP 2012 — the BERT tokenizer's trainer): identical round
    structure to ``bpe_train`` (count -> argmax -> greedy merge over the
    word-frequency symbol table), but the merge criterion is the
    LIKELIHOOD score count(l,r) / (count(l) * count(r)) — the pair whose
    merge most increases a unigram LM's corpus likelihood — instead of
    raw pair frequency. Tie-break (score desc, l asc, r asc) is fully
    deterministic; the score comparison is exact across engines because
    both divide the same exact BIGINTs in double precision (all counts
    < 2^53). Returns (merge_round, left_tok, right_tok, pair_count,
    left_count, right_count) — counts, not the float score, so the
    emitted table is integer-exact.

    The '##' continuation-prefix surface convention of BERT vocabularies
    is deliberately omitted: it is an apply-side display detail, while
    the likelihood criterion IS the algorithmic difference between
    WordPiece and BPE (Sennrich 2016 vs Schuster & Nakajima 2012).

    Scale shape: identical to ``bpe_train`` — one corpus-sized shuffle
    builds the word-frequency table, then every round is O(vocab x
    word-length) regardless of corpus size: a bounded pair aggregation,
    a bounded unigram aggregation, a broadcast-sized 3-way join between
    them, and a 1-row argmax collect (the ``_merge_rounds`` loop)."""

    def best_pair(words: DataFrame, pairs: DataFrame) -> DataFrame:
        uni = (
            words.select("n", F.explode("toks").alias("tok"))
            .groupBy("tok")
            .agg(F.sum("n").cast("long").alias("c"))
        )
        ul = uni.select(F.col("tok").alias("l"), F.col("c").alias("lc"))
        ur = uni.select(F.col("tok").alias("r"), F.col("c").alias("rc"))
        score = F.col("cnt").cast("double") / (F.col("lc") * F.col("rc"))
        return (
            pairs.join(ul, "l")
            .join(ur, "r")
            .select("l", "r", "cnt", "lc", "rc")
            .orderBy(F.desc(score), F.asc("l"), F.asc("r"))
        )

    merges, _ = _merge_rounds(df, text_col, n_merges, best_pair)
    return df.sparkSession.createDataFrame(
        merges,
        "merge_round int, left_tok string, right_tok string, "
        "pair_count long, left_count long, right_count long",
    )


def _merge_rounds(df: DataFrame, text_col: str, n_merges: int, best_pair):
    """The training loop shared by ``bpe_train`` and ``wordpiece_train``:
    up to ``n_merges`` rounds over the word-frequency symbol table, each
    counting adjacent token pairs (l, r, cnt), collecting the first row of
    ``best_pair(words, pairs)`` — the trainer's pair ranking, whose row
    is emitted after the round number — and greedily merging that pair
    in every word. The loop runs on ``plans.fixpoint`` and ends early
    when no word has two tokens left. Returns (merge rows, final
    (w, toks, n) table)."""
    merges = []

    def merge_round(words: DataFrame, it: int):
        pair_idx = F.when(
            F.size("toks") >= 2, F.sequence(F.lit(1), F.size("toks") - 1)
        ).otherwise(F.expr("array()").cast("array<int>"))
        pairs = (
            words.select(
                "n",
                F.explode(
                    F.transform(
                        pair_idx,
                        lambda i: F.struct(
                            F.element_at("toks", i).alias("l"),
                            F.element_at("toks", i + F.lit(1)).alias("r"),
                        ),
                    )
                ).alias("p"),
            )
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("n").cast("long").alias("cnt"))
        )
        best = best_pair(words, pairs).limit(1).collect()
        if not best:
            return None
        merges.append((it + 1, *best[0]))
        return words.select("w", _greedy_merge_fold(best[0].l, best[0].r).alias("toks"), "n")

    words, _ = fixpoint(merge_round, cut_lineage(_word_symbol_table(df, text_col)), n_merges)
    return merges, words


# --- Unigram-LM tokenizer (Kudo 2018, SentencePiece's default) -------------

UNIGRAM_MAXLEN = 12  # words longer than this are excluded from training
UNIGRAM_MAXP = 4  # max piece length
UNIGRAM_N_MULTI = 60  # multi-char seed pieces kept (by weighted frequency)
# apply-side head-word dictionary cap, shared by the BPE and unigram
# apply paths: an explicit Limit bounds the broadcast at any corpus size
# (the FULL distinct-word dictionary grows with the corpus — Heaps' law)
# while Zipf's law puts the vast majority of word OCCURRENCES in the head
TOKENIZER_APPLY_TOPK = 32768
UNIGRAM_ROUNDS = 2  # Viterbi-EM rounds
UNIGRAM_FLOOR = -20.0  # log-prob floor for kept-but-unused single chars


def _unigram_words(df: DataFrame, text_col: str) -> DataFrame:
    """(w, n) word-frequency table bounded to trainable words."""
    return (
        df.select(F.explode(word_tokens(text_col)).alias("w"))
        .filter(F.length("w") <= UNIGRAM_MAXLEN)
        .groupBy("w")
        .agg(F.count("*").alias("n"))
    )


def _unigram_seed(words: DataFrame) -> DataFrame:
    """Seed vocabulary: every single character (coverage guarantee) plus
    the top ``UNIGRAM_N_MULTI`` substrings of length 2..UNIGRAM_MAXP by
    occurrence-weighted frequency (cnt desc, piece asc — deterministic).
    Returns (piece, cnt, logp) with logp = round(ln(cnt/total), 6)
    normalized over the SELECTED pieces."""
    singles = (
        words.select(
            "n",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.length("w")),
                    lambda i: F.col("w").substr(i, F.lit(1)),
                )
            ).alias("piece"),
        )
        .groupBy("piece")
        .agg(F.sum("n").alias("cnt"))
    )
    multi_cand = F.flatten(
        F.transform(
            F.sequence(F.lit(2), F.lit(UNIGRAM_MAXP)),
            lambda k: F.transform(
                F.when(F.length("w") >= k, F.sequence(k, F.length("w"))).otherwise(
                    F.expr("array()").cast("array<int>")
                ),
                lambda i: F.col("w").substr(i - k + 1, k),
            ),
        )
    )
    multi = (
        words.select("n", F.explode(multi_cand).alias("piece"))
        .groupBy("piece")
        .agg(F.sum("n").alias("cnt"))
    )
    # (cnt desc, piece asc) is a total order → limit() is deterministic and
    # plans as a distributed TakeOrderedAndProject, never a one-task sort
    multi_top = multi.orderBy(F.desc("cnt"), F.asc("piece")).limit(UNIGRAM_N_MULTI)
    vocab = singles.unionByName(multi_top)
    total = vocab.agg(F.sum("cnt").cast("double").alias("__t"))
    return vocab.crossJoin(F.broadcast(total)).select(
        "piece", "cnt", F.round(F.log(F.col("cnt") / F.col("__t")), 6).alias("logp")
    )


# One mid-chain lineage cut between the Viterbi forward (dp/backpointer)
# and backward (on-path) passes: the unrolled chain's recursive column
# references make Catalyst's optimization of the FULL ~90-projection plan
# superlinear in depth (~10 s of pure planning per EM round, BENCH_NOTES),
# so materializing the bounded (w, n, k_1..k_MAXLEN) backpointer table
# halves the composed depth. The flag exists only so the equivalence test
# can run both shapes; production value is fixed.
UNIGRAM_CHAIN_CUT = True


def _viterbi_chain(words: DataFrame, vocab: DataFrame):
    """Per word, the max-log-prob segmentation under the current piece
    table, as an UNROLLED relational Viterbi — dp/backpointer columns for
    positions 1..UNIGRAM_MAXLEN (forward), then on-path flags (backward).
    Pure chained projections (no lateral column aliases — see the
    engine-parity pitfall), identical in shape to the generated SQL
    oracle. Tie-break: smallest piece length. Returns (chained_df,
    piece_at) where ``piece_at[i-1]`` is the piece ending at position i
    on the best path (NULL off-path) — callers assemble explode/array
    shapes from it themselves. CONTRACT: consumers that explode must
    explode the array EXPRESSION inline, never an aliased attribute —
    ``F.explode(alias)`` over this ~90-projection chain trips Spark's
    InferFiltersFromGenerate, whose ``size(alias) > 0`` filter is then
    pushed through every projection with alias substitution at each
    level: an exponentially-growing predicate tree that OOMs the driver
    during optimization (observed: heap exhaustion inside
    PushPredicateThroughNonJoin.trimAliases). Inline generators skip
    that rule. With ``UNIGRAM_CHAIN_CUT`` the backpointer table is
    checkpointed between the passes (dp/__m columns dropped first, so
    the materialized rows are (w, n, MAXLEN ints) — never the per-row
    vocab map); values are bit-identical either way."""
    dp_k_levels, on_levels, piece_at = _viterbi_chain_exprs(words.sparkSession)
    vmap = vocab.agg(
        F.map_from_entries(F.collect_list(F.struct("piece", "logp"))).alias("__m")
    )
    cur = words.crossJoin(F.broadcast(vmap)).withColumn("dp_0", F.lit(0.0))
    for i, (dp, kc) in enumerate(dp_k_levels, 1):
        cur = cur.withColumn(f"dp_{i}", dp)
        cur = cur.withColumn(f"k_{i}", kc)
    if UNIGRAM_CHAIN_CUT:
        keep = [c for c in cur.columns if not c.startswith("dp_") and c != "__m"]
        cur = cut_lineage(cur.select(*keep))
    for i, on in on_levels:
        cur = cur.withColumn(f"on_{i}", on)
    return cur, list(piece_at)


# The chain's column expressions are pure functions of (UNIGRAM_MAXLEN,
# UNIGRAM_MAXP) over fixed column NAMES — independent of any input frame —
# so they are built once per session and reused (optimization r16, the
# same py4j lesson as harmony_soft: constructing ~1000 Column objects via
# operator overloads costs a gateway round trip per operator, measured
# ~7 s of pure driver Python PER CHAIN BUILD, and one query builds up to
# five chains: two trainer EM rounds + final segmentation + the apply
# head/tail twins). Column objects are immutable and reusable across
# DataFrames; they live in the session's ``session_store``, so the JVM
# Columns are released with the session.
def _viterbi_chain_exprs(spark):
    store = session_store(spark)
    key = ("viterbi_chain", UNIGRAM_MAXLEN, UNIGRAM_MAXP)
    got = store.get(key)
    if got is not None:
        return got
    NEG = F.lit(-1.0e9)
    dp_k_levels = []
    for i in range(1, UNIGRAM_MAXLEN + 1):
        cands = []
        for k in range(1, min(UNIGRAM_MAXP, i) + 1):
            lp = F.element_at("__m", F.col("w").substr(i - k + 1, k))
            cands.append(
                F.when(
                    F.length("w") >= i, F.coalesce(F.col(f"dp_{i - k}") + lp, NEG)
                ).otherwise(NEG)
            )
        dp = F.greatest(*cands) if len(cands) > 1 else cands[0]
        # first matching WHEN wins → smallest piece length breaks ties
        kc = None
        for k in range(1, len(cands) + 1):
            cond = cands[k - 1] == F.col(f"dp_{i}")
            kc = F.when(cond, k) if kc is None else kc.when(cond, k)
        dp_k_levels.append((dp, kc.otherwise(1)))
    on_levels = []
    for i in range(UNIGRAM_MAXLEN, 0, -1):
        on = F.length("w") == i
        for k in range(1, UNIGRAM_MAXP + 1):
            if i + k <= UNIGRAM_MAXLEN:
                on = on | (F.col(f"on_{i + k}") & (F.col(f"k_{i + k}") == k))
        on_levels.append((i, on))
    piece_at = []
    for i in range(1, UNIGRAM_MAXLEN + 1):
        sub = F.lit(None).cast("string")
        for k in range(1, min(UNIGRAM_MAXP, i) + 1):
            sub = F.when(F.col(f"k_{i}") == k, F.col("w").substr(i - k + 1, k)).otherwise(sub)
        piece_at.append(F.when((F.length("w") >= i) & F.col(f"on_{i}"), sub))
    got = (tuple(dp_k_levels), tuple(on_levels), tuple(piece_at))
    store[key] = got
    return got


def _viterbi_segments(words: DataFrame, vocab: DataFrame) -> DataFrame:
    """E-step counts: one (piece, n) row per use of a piece in a best
    path. The explode is INLINE over the array expression (not an
    aliased column) per the ``_viterbi_chain`` contract."""
    cur, piece_at = _viterbi_chain(words, vocab)
    return cur.select(
        "n",
        F.explode(F.filter(F.array(*piece_at), lambda x: x.isNotNull())).alias("piece"),
    )


def _viterbi_segment_words(words: DataFrame, vocab: DataFrame) -> DataFrame:
    """Apply-side dictionary: per word the ordered best-path token array
    (w, n, toks). No explode here — a pure projection chain optimizes
    linearly (see the ``_viterbi_chain`` contract note); downstream
    consumers join on ``w`` and read ``toks`` whole."""
    cur, piece_at = _viterbi_chain(words, vocab)
    return cur.select(
        "w",
        "n",
        F.filter(F.array(*piece_at), lambda x: x.isNotNull()).alias("toks"),
    )


def unigram_train(df: DataFrame, text_col: str, return_vocab: bool = False):
    """Unigram-LM tokenizer training (Kudo 2018, "Subword regularization"
    — the SentencePiece default), hard-EM (Viterbi) variant: seed a piece
    vocabulary from frequent substrings, then alternate (E) Viterbi-best
    segmentation of every word under the current piece log-probs with
    (M) piece-probability re-estimation from the segmentation counts.
    Multi-char pieces that win no segment are PRUNED each M-step (the
    vocabulary-shrinking step of the published algorithm, merged into
    M); single characters are never pruned (coverage guarantee) and
    floor at logp = -20 when unused. Documented simplifications vs the
    paper: hard (Viterbi) EM instead of forward-backward expected
    counts, and frequency-based seeding instead of ESA — both standard
    engineering reductions; the DP, tie-breaks (smallest piece length),
    and rounding are engine-exact so the trainer has a full SQL twin.

    Scale shape (the `bpe_train` recipe): one corpus-sized shuffle
    builds the word-frequency table; every EM round after is
    O(vocab-bounded words × UNIGRAM_MAXLEN × UNIGRAM_MAXP) — the piece
    table broadcasts as a 1-row map (≤ singles + 60 entries), the
    Viterbi is ~90 chained JVM column expressions (no UDF, no driver
    loop over words), and the M-step is one bounded piece aggregation.
    Vocab lineage is cut per round.

    Returns the final piece table (piece, piece_count, score), the
    artifact a unigram tokenizer ships; with ``return_vocab=True`` also
    returns the word → token-array dictionary (one extra Viterbi pass
    under the FINAL piece table), the broadcastable mapping the APPLY
    side joins against to encode a corpus map-only — the exact analog of
    ``bpe_train(return_vocab=True)``."""
    words = cut_lineage(_unigram_words(df, text_col))
    vocab = _unigram_seed(words)
    singles = vocab.filter(F.length("piece") == 1).select("piece")
    for _round in range(UNIGRAM_ROUNDS):
        vocab = cut_lineage(vocab)
        counts = _viterbi_segments(words, vocab).groupBy("piece").agg(F.sum("n").alias("cnt"))
        kept_singles = singles.join(counts, "piece", "left").select(
            "piece", F.coalesce("cnt", F.lit(0)).alias("cnt")
        )
        kept_multi = counts.filter(F.length("piece") >= 2)
        nxt = kept_singles.unionByName(kept_multi)
        total = nxt.agg(F.sum("cnt").cast("double").alias("__t"))
        vocab = nxt.crossJoin(F.broadcast(total)).select(
            "piece",
            "cnt",
            F.when(
                F.col("cnt") > 0, F.round(F.log(F.col("cnt") / F.col("__t")), 6)
            ).otherwise(F.lit(UNIGRAM_FLOOR)).alias("logp"),
        )
    pieces = vocab.select(
        "piece", F.col("cnt").cast("long").alias("piece_count"), F.col("logp").alias("score")
    )
    if return_vocab:
        return pieces, _viterbi_segment_words(words, cut_lineage(vocab)).select("w", "toks")
    return pieces


def _trigram_structs(toks_col: str):
    """array<struct<w1,w2,w3>> of adjacent token triples (empty for <3)."""
    idx = F.when(
        F.size(toks_col) >= 3, F.sequence(F.lit(1), F.size(toks_col) - 2)
    ).otherwise(F.expr("array()").cast("array<int>"))
    return F.transform(
        idx,
        lambda i: F.struct(
            F.element_at(F.col(toks_col), i).alias("w1"),
            F.element_at(F.col(toks_col), i + 1).alias("w2"),
            F.element_at(F.col(toks_col), i + 2).alias("w3"),
        ),
    )


def trigram_backoff_scores(
    df: DataFrame,
    key_col: str,
    text_col: str,
    ref: DataFrame,
    alpha: float = 0.4,
    max_ngrams: int | None = None,
) -> DataFrame:
    """Score documents under a trigram LM with STUPID BACKOFF (Brants et
    al. 2007 "Large Language Models in Machine Translation" — the
    published web-scale recipe: no normalization, a fixed ``alpha``
    back-off factor, chosen there precisely because it needs only count
    tables and scales to trillions of tokens):

        S(w3|w1w2) = c(w1w2w3)/c(w1w2)          if c(w1w2w3) > 0
                   = α·c(w2w3)/c(w2)            elif c(w2w3) > 0
                   = α²·c(w3)/N                  otherwise

    Returns (key, n_trigrams, mean_neg_log_score) for docs with ≥3
    tokens; lower = more in-domain (same filter signal as the bigram
    CCNet gate, one order higher with graceful degradation on unseen
    n-grams). OOV w3 (zero unigram count) is floored to 1/N so the log
    stays finite — documented engine-side choice, mirrored in oracles.

    Scale shape: three count tables CAPPED to the top ``max_ngrams``
    entries per order (count-cutoff pruning — Brants et al. themselves
    prune by count at web scale; n-gram TYPE counts grow with the
    reference corpus, so uncapped tables are a broadcast OOM), then
    broadcast; corpus scoring is map-only joins plus one per-key
    combine. Pruning is NESTED across orders: a capped bigram survives
    only if its context unigram b1 also survived, a capped trigram only
    if its (t1,t2) prefix bigram survived — so whenever a branch's
    numerator matches, its denominator is guaranteed non-NULL (without
    the nesting, a trigram surviving the tri cap while its prefix
    bigram was capped out scores c3/NULL → NULL and silently drops out
    of the AVG while still counting in n_trigrams). Capped-out n-grams
    take the backoff branches exactly as unseen ones — the designed
    degradation. N (the unigram-floor denominator) is the FULL reference
    token count, computed before the cap."""
    if max_ngrams is None:
        max_ngrams = LM_MAX_NGRAMS
    toks = word_tokens(text_col)
    reft = ref.select(toks.alias("__toks"))
    uni_full = reft.select(F.explode("__toks").alias("u1")).groupBy("u1").agg(
        F.count("*").alias("__c1")
    )
    n_tokens = uni_full.agg(F.sum("__c1").cast("double").alias("__n"))
    uni = _top_ngrams(uni_full, "__c1", ["u1"], max_ngrams)
    bi = _top_ngrams(
        reft.select(F.explode(_bigram_structs("__toks")).alias("bg"))
        .groupBy(F.col("bg.w1").alias("b1"), F.col("bg.w2").alias("b2"))
        .agg(F.count("*").alias("__c2")),
        "__c2",
        ["b1", "b2"],
        max_ngrams,
    ).join(uni.select(F.col("u1").alias("b1")), "b1", "left_semi")
    tri = _top_ngrams(
        reft.select(F.explode(_trigram_structs("__toks")).alias("tg"))
        .groupBy(
            F.col("tg.w1").alias("t1"), F.col("tg.w2").alias("t2"), F.col("tg.w3").alias("t3")
        )
        .agg(F.count("*").alias("__c3")),
        "__c3",
        ["t1", "t2", "t3"],
        max_ngrams,
    ).join(
        bi.select(F.col("b1").alias("t1"), F.col("b2").alias("t2")), ["t1", "t2"], "left_semi"
    )
    doc = (
        df.select(key_col, toks.alias("__toks"))
        .select(key_col, F.explode(_trigram_structs("__toks")).alias("tg"))
        .select(
            key_col,
            F.col("tg.w1").alias("w1"),
            F.col("tg.w2").alias("w2"),
            F.col("tg.w3").alias("w3"),
        )
    )
    joined = (
        doc.join(
            F.broadcast(tri),
            (F.col("w1") == F.col("t1")) & (F.col("w2") == F.col("t2")) & (F.col("w3") == F.col("t3")),
            "left",
        )
        .join(
            F.broadcast(bi.withColumnRenamed("b1", "h1").withColumnRenamed("b2", "h2")),
            (F.col("w1") == F.col("h1")) & (F.col("w2") == F.col("h2")),
            "left",
        )
        .join(
            F.broadcast(
                bi.select(F.col("b1").alias("g2"), F.col("b2").alias("g3"), F.col("__c2").alias("__c2b"))
            ),
            (F.col("w2") == F.col("g2")) & (F.col("w3") == F.col("g3")),
            "left",
        )
        .join(F.broadcast(uni.withColumnRenamed("u1", "m2")), F.col("w2") == F.col("m2"), "left")
        .join(
            F.broadcast(uni.select(F.col("u1").alias("m3"), F.col("__c1").alias("__c1w3"))),
            F.col("w3") == F.col("m3"),
            "left",
        )
        .crossJoin(F.broadcast(n_tokens))
    )
    score = (
        F.when(
            F.col("__c3").isNotNull(), F.col("__c3") / F.col("__c2")
        )
        .when(
            F.col("__c2b").isNotNull(), alpha * F.col("__c2b") / F.col("__c1")
        )
        .otherwise(
            alpha * alpha * F.greatest(F.coalesce("__c1w3", F.lit(0.0)), F.lit(1.0)) / F.col("__n")
        )
    )
    return (
        joined.select(key_col, (-F.log(score)).alias("__nl"))
        .groupBy(key_col)
        .agg(
            F.count("*").cast("long").alias("n_trigrams"),
            F.round(F.avg("__nl"), 6).alias("mean_neg_log_score"),
        )
    )
