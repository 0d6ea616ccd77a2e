"""Text-analysis + deduplication operators over the `documents` table —
the LLM-training-data-pipeline surface (BASELINE.json north star):
token counting, quality scoring, n-gram language ID, document
fingerprinting, exact dedup, n-gram Jaccard near-dup, MinHash+LSH.

Design for 100 TB: everything per-document is a JVM-side array expression
(sequence/transform/aggregate — no UDF, no explode) so it scales embarrassingly
parallel; only the pairwise/dedup steps shuffle, and those shuffle on
shingle/band keys (bounded by LSH banding, not O(n²)).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from utils_spark.functions import (
    MINHASH_P30,
    _minhash_constants,
    _minhash_sig_col,
    average_rank,
    bits_to_long,
    char_shingles,
    md5_long,
    minhash_band_structs,
    simhash_bits,
    text_fingerprint,
    word_tokens,
)
from utils_spark.io import load_table, spread_low_parallelism
from utils_spark.plans import scratch_persist
from utils_spark.registry import register

# tiny deterministic English stopword profile for quality/lang scoring
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")

# Naive-Bayes langid feature cap: top-K words per language (count desc,
# word asc). Bounds the broadcast model at |langs| x K rows regardless of
# corpus size — the raw (lang x distinct-word) likelihood table grows with
# the corpus (Heaps' law) and is a broadcast OOM at 100 TB.
NB_TOPK_FEATURES = 4096


@register(
    "token_stats",
    oracle="""
    SELECT doc_id, lang,
           CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
           CAST(n_chars AS BIGINT) AS n_chars,
           ROUND(CAST(length(replace(text, ' ', '')) AS DOUBLE)
                 / len(regexp_split_to_array(trim(text), '\\s+')), 6) AS avg_token_len
    FROM documents
    """,
    tags=("text", "tokens"),
)
def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting per document: whitespace tokens, char counts, mean
    token length — all array expressions, zero shuffle."""
    d = load_table(spark, sf_dir, "documents")
    toks = word_tokens("text")
    return d.select(
        "doc_id",
        "lang",
        F.size(toks).cast("long").alias("n_tokens"),
        F.col("n_chars").cast("long").alias("n_chars"),
        F.round(
            F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast("double") / F.size(toks), 6
        ).alias("avg_token_len"),
    )


@register(
    "quality_score",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents
    )
    SELECT doc_id, lang,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           ROUND(CAST(len(list_filter(toks, w -> list_contains({list(STOPWORDS)!r}, w))) AS DOUBLE)
                 / len(toks), 6) AS stopword_ratio,
           ROUND(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 6) AS distinct_ratio,
           CASE WHEN len(toks) BETWEEN 10 AND 1000
                     AND CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) > 0.2
                THEN 1 ELSE 0 END AS passes_quality
    FROM t
    """,
    tags=("text", "quality"),
)
def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality scoring: stopword ratio, lexical diversity
    (distinct/total tokens), and a composite pass flag — the standard
    cheap heuristics of LLM-data curation pipelines. Map-only."""
    d = load_table(spark, sf_dir, "documents")
    toks = word_tokens("text")
    sw = F.array(*[F.lit(s) for s in STOPWORDS])
    stop_ratio = F.size(F.filter(toks, lambda w: F.array_contains(sw, w))).cast("double") / F.size(toks)
    distinct_ratio = F.size(F.array_distinct(toks)).cast("double") / F.size(toks)
    return d.select(
        "doc_id",
        "lang",
        F.size(toks).cast("long").alias("n_tokens"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(distinct_ratio, 6).alias("distinct_ratio"),
        F.when(F.size(toks).between(10, 1000) & (distinct_ratio > 0.2), 1).otherwise(0).alias("passes_quality"),
    )


_GOPHER_STOPS = ["the", "be", "to", "of", "and", "that", "have", "with"]


@register(
    "gopher_quality_rules",
    # the published Gopher rule set (Rae et al. 2021, appendix A),
    # thresholds verbatim: word count in [50, 100k], mean word length in
    # [3, 10], >=80% alphabetic words, >=2 of the 8 listed stop words.
    # Flags are computed over the ROUNDED stats in a separate query
    # level on BOTH engines (no lateral aliases; no boundary drift). On
    # the synthetic fixture the word-count flag VARIES (10-99 words/doc)
    # and drives the composite; mean-len always passes and
    # alpha/stop-hits always fail there — but every underlying STAT
    # varies per doc, so the value hash is never vacuous.
    oracle="""
    WITH toks AS (
      SELECT doc_id, source,
             list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS w
      FROM documents
    ),
    stats AS (
      SELECT doc_id, source,
             len(w) AS n_words,
             ROUND(list_sum(list_transform(w, x -> CAST(length(x) AS DOUBLE))) / len(w), 6)
               AS mean_word_len,
             ROUND(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]')))
                   / CAST(len(w) AS DOUBLE), 6) AS alpha_word_ratio,
             len(list_intersect(list_distinct(w),
                 ['the','be','to','of','and','that','have','with'])) AS stop_hits
      FROM toks
    )
    SELECT doc_id, source,
           CAST(n_words AS BIGINT) AS n_words, mean_word_len, alpha_word_ratio,
           CAST(stop_hits AS BIGINT) AS stop_hits,
           CASE WHEN n_words BETWEEN 50 AND 100000 THEN 1 ELSE 0 END AS flag_word_count,
           CASE WHEN mean_word_len BETWEEN 3 AND 10 THEN 1 ELSE 0 END AS flag_mean_len,
           CASE WHEN alpha_word_ratio >= 0.8 THEN 1 ELSE 0 END AS flag_alpha,
           CASE WHEN stop_hits >= 2 THEN 1 ELSE 0 END AS flag_stopwords,
           CASE WHEN n_words BETWEEN 50 AND 100000 AND mean_word_len BETWEEN 3 AND 10
                 AND alpha_word_ratio >= 0.8 AND stop_hits >= 2
                THEN 1 ELSE 0 END AS passes_gopher
    FROM stats
    """,
    tags=("text", "quality", "llm-pipeline", "gopher"),
)
def gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher quality-filter rule set (Rae et al. 2021, appendix A),
    published thresholds verbatim: 50 <= word count <= 100,000; 3 <=
    mean word length <= 10; >= 80% of words contain an alphabetic
    character; document contains >= 2 of {the, be, to, of, and, that,
    have, with}. Emits the per-document statistics, each rule's flag,
    and the composite pass. Map-only: every stat is a per-row array
    kernel; no shuffle at all."""
    d = load_table(spark, sf_dir, "documents")
    toks = word_tokens("text")
    stops = F.array(*[F.lit(s) for s in _GOPHER_STOPS])
    stats = d.select(
        "doc_id",
        "source",
        F.size(toks).alias("n_words"),
        F.round(
            F.aggregate(
                F.transform(toks, lambda w: F.length(w).cast("double")),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            / F.size(toks),
            6,
        ).alias("mean_word_len"),
        F.round(
            F.size(F.filter(toks, lambda w: w.rlike("[A-Za-z]"))).cast("double") / F.size(toks),
            6,
        ).alias("alpha_word_ratio"),
        F.size(F.array_intersect(F.array_distinct(toks), stops)).alias("stop_hits"),
    )
    f_wc = F.col("n_words").between(50, 100000)
    f_ml = F.col("mean_word_len").between(3.0, 10.0)
    f_al = F.col("alpha_word_ratio") >= 0.8
    f_sw = F.col("stop_hits") >= 2
    flag = lambda c: F.when(c, 1).otherwise(0)  # noqa: E731
    return stats.select(
        "doc_id",
        "source",
        F.col("n_words").cast("long").alias("n_words"),
        "mean_word_len",
        "alpha_word_ratio",
        F.col("stop_hits").cast("long").alias("stop_hits"),
        flag(f_wc).alias("flag_word_count"),
        flag(f_ml).alias("flag_mean_len"),
        flag(f_al).alias("flag_alpha"),
        flag(f_sw).alias("flag_stopwords"),
        flag(f_wc & f_ml & f_al & f_sw).alias("passes_gopher"),
    )


_CMS_D = 4  # count-min sketch depth (hash rows)
_CMS_W = 256  # count-min sketch width (buckets per row)


@register(
    "countmin_heavy_hitters",
    # Count-Min sketch (Cormode & Muthukrishnan 2005) heavy hitters: the
    # sketch path shuffles only its d x w = 1024 cells (map-side partial
    # agg collapses the corpus before the exchange); the exact top-20 is
    # the in-query ground truth certifying the overestimate bound
    # cms_estimate >= true_count per hitter. Deterministic md5 bucket
    # hashing -> both engines build the byte-identical sketch.
    oracle=f"""
    WITH words AS (
      SELECT unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                x -> x <> '')) AS w
      FROM documents
    ),
    exact AS (SELECT w, COUNT(*) AS true_count FROM words GROUP BY w),
    top AS (SELECT w, true_count FROM exact ORDER BY true_count DESC, w LIMIT 20),
    cells AS (
      SELECT ii.i,
             CAST(('0x' || substr(md5(CAST(ii.i AS VARCHAR) || ':' || w), 1, 15)) AS BIGINT)
               % {_CMS_W} AS b,
             COUNT(*) AS cnt
      FROM words CROSS JOIN (SELECT unnest(range(0, {_CMS_D})) AS i) ii
      GROUP BY 1, 2
    ),
    est AS (
      SELECT t.w, t.true_count, MIN(c.cnt) AS cms_estimate
      FROM top t CROSS JOIN (SELECT unnest(range(0, {_CMS_D})) AS i) ii
      JOIN cells c ON c.i = ii.i
       AND c.b = CAST(('0x' || substr(md5(CAST(ii.i AS VARCHAR) || ':' || t.w), 1, 15)) AS BIGINT)
                   % {_CMS_W}
      GROUP BY 1, 2
    )
    SELECT w, CAST(true_count AS BIGINT) AS true_count,
           CAST(cms_estimate AS BIGINT) AS cms_estimate,
           CAST(cms_estimate - true_count AS BIGINT) AS overestimate
    FROM est
    """,
    tags=("text", "sketch", "llm-pipeline", "heavy-hitters"),
)
def countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch heavy hitters (Cormode & Muthukrishnan 2005):
    build a 4 x 256 CMS over the corpus word stream with deterministic
    md5 bucket hashes, then report the exact top-20 words with their
    sketch estimates and overestimation error (CMS never underestimates;
    equality means no collision in some row).

    Scale shape: the SKETCH path never shuffles corpus volume — each
    task's partial aggregation collapses its word stream into <= 1024
    (row, bucket) cells before the exchange, so the sketch costs the
    same at 100 TB as at 100 MB (the whole point of the structure; the
    Bloom-filter decontamination query is the membership analog). The
    exact top-20 aggregation exists as the in-query ground truth that
    CERTIFIES the overestimate bound; a pure-scale deployment would keep
    only the sketch plus a candidate stream."""
    d = load_table(spark, sf_dir, "documents")
    # local single-file parquet arrives as ONE partition; the 4x md5
    # hashing is CPU-bound, so spread it when scan parallelism is low
    # (no-op on a many-file cluster read — same guard as minhash_lsh_pairs)
    d = spread_low_parallelism(d)
    words = d.select(F.explode(word_tokens("text")).alias("w"))

    def hashes():
        return F.array(
            *[
                F.struct(
                    F.lit(i).alias("i"),
                    F.pmod(md5_long(F.concat(F.lit(f"{i}:"), F.col("w"))), F.lit(_CMS_W)).alias("b"),
                )
                for i in range(_CMS_D)
            ]
        )

    cells = (
        words.select(F.explode(hashes()).alias("h"))
        .groupBy(F.col("h.i").alias("i"), F.col("h.b").alias("b"))
        .agg(F.count("*").alias("cnt"))
    )
    exact = words.groupBy("w").agg(F.count("*").alias("true_count"))
    # (true_count desc, w asc) is a total order -> deterministic distributed
    # TakeOrderedAndProject, exactly the oracle's ORDER BY ... LIMIT 20
    top = exact.orderBy(F.desc("true_count"), F.asc("w")).limit(20)
    tope = top.select("w", "true_count", F.explode(hashes()).alias("h")).select(
        "w", "true_count", F.col("h.i").alias("i"), F.col("h.b").alias("b")
    )
    est = tope.join(F.broadcast(cells), ["i", "b"]).groupBy("w", "true_count").agg(
        F.min("cnt").alias("cms_estimate")
    )
    return est.select(
        "w",
        F.col("true_count").cast("long").alias("true_count"),
        F.col("cms_estimate").cast("long").alias("cms_estimate"),
        (F.col("cms_estimate") - F.col("true_count")).cast("long").alias("overestimate"),
    )


@register(
    "winnowing_fingerprints",
    # Winnowing (Schleimer, Wilkerson & Aiken, SIGMOD 2003): the local
    # document-fingerprinting guarantee — at least one k-gram hash
    # selected from EVERY window of w consecutive grams, so any match of
    # length >= w+k-1 chars is always detected. We emit the per-doc
    # selected-hash VALUE set (size + checksum); selecting min-per-window
    # makes the value set independent of the paper's positional
    # rightmost-tie rule (ties share the value).
    oracle="""
    WITH h AS (
      SELECT doc_id, source,
             list_transform(range(1, GREATEST(length(text) - 4, 0) + 1),
                i -> CAST(('0x' || substr(md5(substr(text, i, 5)), 1, 15)) AS BIGINT)
                       % 1073741824) AS hs
      FROM documents
    ),
    sel AS (
      SELECT doc_id, source, hs,
             list_distinct(list_transform(range(1, GREATEST(len(hs) - 3, 0) + 1),
                                          p -> list_min(hs[p:p+3]))) AS fps
      FROM h
    )
    SELECT doc_id, source,
           CAST(len(hs) AS BIGINT) AS n_grams,
           CAST(len(fps) AS BIGINT) AS n_fingerprints,
           CAST(COALESCE(list_sum(fps), 0) AS BIGINT) AS fp_checksum
    FROM sel
    """,
    tags=("text", "dedup", "fingerprint", "llm-pipeline"),
)
def winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al. 2003, the MOSS
    algorithm): hash every 5-char gram, slide a window of 4 consecutive
    gram hashes, select each window's minimum — guaranteeing a shared
    fingerprint for any substring match of >= 8 chars, at ~2/(w+1)
    selection density. Complements `doc_fingerprint` (global rolling
    hash) with LOCAL fingerprints that survive partial edits. Emits per
    doc the gram count, distinct selected-hash count, and their sum as
    a checksum. Map-only per-row array kernels, zero shuffle; built as
    chained projections (hash array -> window mins -> aggregates), each
    alias consumed whole-array by the next level."""
    d = load_table(spark, sf_dir, "documents")
    # one md5 per char of text is CPU-bound and a local single-file scan
    # is ONE partition — spread it (round-7 probe measured 3.7 s -> sub-
    # second at sf0.1; no-op when the scan already has parallelism)
    d = spread_low_parallelism(d)
    hs = F.when(
        F.length("text") >= 5,
        F.transform(
            F.sequence(F.lit(1), F.length("text") - 4),
            lambda i: F.pmod(md5_long(F.col("text").substr(i, F.lit(5))), F.lit(1073741824)),
        ),
    ).otherwise(F.expr("array()").cast("array<bigint>"))
    step1 = d.select("doc_id", "source", hs.alias("hs"))
    fps = F.array_distinct(
        F.when(
            F.size("hs") >= 4,
            F.transform(
                F.sequence(F.lit(1), F.size("hs") - 3),
                lambda p: F.array_min(F.slice("hs", p, F.lit(4))),
            ),
        ).otherwise(F.expr("array()").cast("array<bigint>"))
    )
    step2 = step1.select("doc_id", "source", F.size("hs").alias("n_grams"), fps.alias("fps"))
    return step2.select(
        "doc_id",
        "source",
        F.col("n_grams").cast("long").alias("n_grams"),
        F.size("fps").cast("long").alias("n_fingerprints"),
        F.aggregate("fps", F.lit(0).cast("long"), lambda acc, x: acc + x).alias("fp_checksum"),
    )


@register(
    "distinct_ngram_diversity",
    # Distinct-n diversity (Li et al. 2016, NAACL): per-source ratio of
    # distinct unigrams/bigrams to total — the standard corpus-diversity
    # stat a curation run reports next to quality scores (low distinct-2
    # = templated/repetitive source). Gram-keyed countDistinct per
    # source; the gram shuffle partial-aggregates map-side.
    oracle="""
    WITH toks AS (
      SELECT doc_id, source,
             list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS w
      FROM documents
    ),
    uni AS (SELECT source, unnest(w) AS g FROM toks),
    bi AS (
      SELECT source, unnest(list_transform(range(1, GREATEST(len(w) - 1, 0) + 1),
                                           i -> w[i] || ' ' || w[i + 1])) AS g
      FROM toks
    ),
    u AS (SELECT source, COUNT(DISTINCT g) AS d1, COUNT(*) AS n1 FROM uni GROUP BY source),
    b AS (SELECT source, COUNT(DISTINCT g) AS d2, COUNT(*) AS n2 FROM bi GROUP BY source)
    SELECT u.source,
           CAST(n1 AS BIGINT) AS n_unigrams, CAST(d1 AS BIGINT) AS distinct_unigrams,
           ROUND(d1 / CAST(n1 AS DOUBLE), 6) AS distinct_1,
           CAST(n2 AS BIGINT) AS n_bigrams, CAST(d2 AS BIGINT) AS distinct_bigrams,
           ROUND(d2 / CAST(n2 AS DOUBLE), 6) AS distinct_2
    FROM u JOIN b ON u.source = b.source
    """,
    tags=("text", "quality", "llm-pipeline", "diversity"),
)
def distinct_ngram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-1 / Distinct-2 corpus diversity (Li et al. 2016): per
    source, the ratio of distinct unigrams and bigrams to totals. The
    go-to cheap detector for templated or repetitive sources in a
    training-data audit. One gram-keyed distinct-aggregate per n; the
    per-(source, gram) partial aggregation collapses duplicates map-side
    before the exchange."""
    d = load_table(spark, sf_dir, "documents")
    toks = word_tokens("text")
    base = d.select("doc_id", "source", toks.alias("w"))
    uni = base.select("source", F.explode("w").alias("g"))
    bigrams = F.when(
        F.size("w") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("w") - 1),
            lambda i: F.concat_ws(
                " ", F.element_at("w", i.cast("int")), F.element_at("w", (i + 1).cast("int"))
            ),
        ),
    ).otherwise(F.expr("array()").cast("array<string>"))
    bi = base.select("source", F.explode(bigrams).alias("g"))
    u = uni.groupBy("source").agg(
        F.countDistinct("g").alias("d1"), F.count("*").alias("n1")
    )
    b = bi.groupBy("source").agg(
        F.countDistinct("g").alias("d2"), F.count("*").alias("n2")
    )
    return u.join(b, "source").select(
        "source",
        F.col("n1").cast("long").alias("n_unigrams"),
        F.col("d1").cast("long").alias("distinct_unigrams"),
        F.round(F.col("d1") / F.col("n1"), 6).alias("distinct_1"),
        F.col("n2").cast("long").alias("n_bigrams"),
        F.col("d2").cast("long").alias("distinct_bigrams"),
        F.round(F.col("d2") / F.col("n2"), 6).alias("distinct_2"),
    )


@register(
    "zipf_law_fit",
    # Zipf's-law exponent per source: OLS of ln(freq) on ln(rank) over
    # the top-100 words — a corpus-statistics fingerprint (natural text
    # sits near alpha ~ 1; synthetic/templated text drifts). Rank by
    # (freq desc, word asc) so the top-100 cutoff and the regression are
    # engine-deterministic; stats computed in a separate query level.
    oracle="""
    WITH words AS (
      SELECT source,
             unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                x -> x <> '')) AS w
      FROM documents
    ),
    freq AS (SELECT source, w, COUNT(*) AS f FROM words GROUP BY source, w),
    ranked AS (
      SELECT source, f,
             row_number() OVER (PARTITION BY source ORDER BY f DESC, w ASC) AS r
      FROM freq
    ),
    xy AS (
      SELECT source, ln(r) AS x, ln(f) AS y FROM ranked WHERE r <= 100
    ),
    s AS (
      SELECT source, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(x * y) AS sxy
      FROM xy GROUP BY source
    )
    SELECT source, CAST(n AS BIGINT) AS n_ranks,
           ROUND(-(n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS zipf_alpha,
           ROUND(POW(n * sxy - sx * sy, 2)
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r_squared
    FROM s
    """,
    tags=("text", "quality", "llm-pipeline", "zipf"),
)
def zipf_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit per source: regress ln(word frequency) on ln(rank)
    over each source's top-100 words and report the exponent alpha and
    fit r² — the classical corpus-statistics fingerprint (Zipf 1949;
    natural language sits near alpha ~ 1, templated or synthetic text
    drifts off). Closed-form OLS from six running sums.

    Scale shape: one (source, word) aggregation (map-side combined),
    a per-source top-100 rank window over the BOUNDED per-source
    vocabulary, then a six-sum closed-form regression per source —
    nothing corpus-sized past the first aggregate."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    words = d.select("source", F.explode(word_tokens("text")).alias("w"))
    freq = words.groupBy("source", "w").agg(F.count("*").alias("f"))
    wr = Window.partitionBy("source").orderBy(F.desc("f"), F.asc("w"))
    xy = (
        freq.withColumn("r", F.row_number().over(wr))
        .filter(F.col("r") <= 100)
        .select("source", F.log("r").alias("x"), F.log("f").alias("y"))
    )
    s = xy.groupBy("source").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    dxx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    dyy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return s.select(
        "source",
        F.col("n").cast("long").alias("n_ranks"),
        F.round(-num / dxx, 6).alias("zipf_alpha"),
        F.round(F.pow(num, F.lit(2.0)) / (dxx * dyy), 6).alias("r_squared"),
    )


@register(
    "lang_id_ngram",
    oracle="""
    WITH shingled AS (
      SELECT doc_id, lang,
             list_distinct(list_transform(range(1, GREATEST(length(text) - 2, 1) + 1),
                                          i -> substr(text, i, 3))) AS grams
      FROM documents
    ),
    doc_gram AS (SELECT doc_id, lang, unnest(grams) AS gram FROM shingled),
    profile AS (
      SELECT lang AS p_lang, gram FROM (
        SELECT lang, gram, COUNT(*) AS df,
               row_number() OVER (PARTITION BY lang ORDER BY COUNT(*) DESC, gram) AS rnk
        FROM doc_gram GROUP BY lang, gram
      ) WHERE rnk <= 25
    ),
    scores AS (
      SELECT d.doc_id, d.lang, p.p_lang, COUNT(*) AS hits
      FROM doc_gram d JOIN profile p ON d.gram = p.gram
      GROUP BY d.doc_id, d.lang, p.p_lang
    ),
    best AS (
      SELECT doc_id, lang, p_lang AS predicted_lang,
             row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, p_lang) AS rnk
      FROM scores
    )
    SELECT lang, predicted_lang, CAST(COUNT(*) AS BIGINT) AS n
    FROM best WHERE rnk = 1 GROUP BY lang, predicted_lang
    """,
    tags=("text", "lang-id"),
)
def lang_id_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-trigram language identification: build a top-25-trigram
    profile per language from the labeled corpus (document frequency),
    score each doc by distinct-trigram hits against each profile, predict
    argmax; report the lang × predicted confusion counts.

    Scale: per-doc shingling is map-side; the profile is tiny (n_langs × 25)
    and broadcast into the scoring join; only doc→gram explode shuffles."""
    d = load_table(spark, sf_dir, "documents")
    doc_gram = d.select("doc_id", "lang", F.explode(char_shingles("text", 3)).alias("gram"))
    from pyspark.sql import Window

    wprof = Window.partitionBy("lang").orderBy(F.desc("df"), F.asc("gram"))
    profile = (
        doc_gram.groupBy("lang", "gram")
        .agg(F.count("*").alias("df"))
        .withColumn("rnk", F.row_number().over(wprof))
        .filter(F.col("rnk") <= 25)
        .select(F.col("lang").alias("p_lang"), "gram")
    )
    scores = (
        doc_gram.join(F.broadcast(profile), "gram")
        .groupBy("doc_id", "lang", "p_lang")
        .agg(F.count("*").alias("hits"))
    )
    wbest = Window.partitionBy("doc_id").orderBy(F.desc("hits"), F.asc("p_lang"))
    best = scores.withColumn("rnk", F.row_number().over(wbest)).filter(F.col("rnk") == 1)
    return best.groupBy("lang", F.col("p_lang").alias("predicted_lang")).agg(F.count("*").alias("n"))


@register(
    "doc_fingerprint",
    oracle="""
    SELECT fingerprint, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS canonical_doc
    FROM (
      SELECT doc_id,
             md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fingerprint
      FROM documents
    ) GROUP BY fingerprint HAVING COUNT(*) > 1
    """,
    tags=("text", "dedup", "fingerprint"),
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact near-dup fingerprinting: md5 over whitespace-normalized
    lowercase text; groups of >1 doc sharing a fingerprint are duplicate
    clusters, canonical = min doc_id. Hash-groupBy — the exact-dedup
    primitive of every curation pipeline; shuffles 16-byte keys only.
    Runs the `fingerprint_duplicates` operator."""
    from utils_spark.operators.dedup import fingerprint_duplicates

    d = load_table(spark, sf_dir, "documents")
    return fingerprint_duplicates(d, "text", "doc_id").withColumnRenamed(
        "canonical_key", "canonical_doc"
    )


@register(
    "exact_dedup",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_unique,
           CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS BIGINT) AS n_dupes
    FROM documents
    """,
    tags=("text", "dedup"),
)
def exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-hash dedup summary (hash-groupBy dedup; at 100 TB this runs as
    one shuffle of md5 keys + AQE-coalesced counts)."""
    d = load_table(spark, sf_dir, "documents")
    return d.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct(F.md5("text")).alias("n_unique"),
        (F.count("*") - F.countDistinct(F.md5("text"))).alias("n_dupes"),
    )


@register(
    "ngram_jaccard_pairs",
    oracle="""
    WITH shingled AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, GREATEST(length(text) - 4, 1) + 1),
                                          i -> substr(text, i, 5))) AS grams
      FROM documents WHERE doc_id < 200
    ),
    exploded AS (SELECT doc_id, len(grams) AS sz, unnest(grams) AS gram FROM shingled),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             ANY_VALUE(a.sz) AS sz_a, ANY_VALUE(b.sz) AS sz_b, COUNT(*) AS n_common
      FROM exploded a JOIN exploded b ON a.gram = b.gram AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           ROUND(CAST(n_common AS DOUBLE) / (sz_a + sz_b - n_common), 6) AS jaccard
    FROM inter
    WHERE CAST(n_common AS DOUBLE) / (sz_a + sz_b - n_common) >= 0.5
    """,
    tags=("text", "dedup", "jaccard", "bench"),
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate detection by exact 5-gram Jaccard similarity ≥ 0.5
    (doc_id < 200 keeps the brute-force ORACLE's pairwise space bounded;
    the Spark side needs no such bound).

    Scale shape: prefix filtering (Bayardo et al., WWW'07) — grams ranked
    by global document frequency, each doc joins only on its rarest
    ``|d| - ceil(0.5|d|) + 1`` grams. Perfect recall at the threshold by
    the prefix-overlap theorem, and hot shingles (the df² skew bomb of a
    bare gram=gram self-join) are structurally excluded from prefixes, so
    no gram-df cap is needed. PPJoin's positional bound (Xiao et al.,
    WWW'08) then drops every prefix pair whose shared prefix grams plus
    the shorter tail after the last of them cannot reach the threshold
    overlap (18,156 → 182 candidates at sf0.001, 18,413 → 218 at sf0.1;
    see ``dedup._prefix_candidates_from_shingled``). Candidates are then
    verified with exact set-intersection counts joined per (candidate,
    gram). The brute-force all-pairs SQL is the oracle, so LSH-style
    banding misses would be caught as a hash mismatch — prefix filtering
    has none to miss.

    The plan runs with AQE off, as Louvain's sweeps do: the input is
    bounded by construction and the shuffle partitions are sized for it,
    so AQE has nothing left to re-optimize and would only submit each of
    its ~20 query stages as its own job (23 jobs → 9 for build + count at
    sf0.001)."""
    from utils_spark.operators.dedup import prefix_filtered_jaccard_pairs
    from utils_spark.plans import cut_lineage, scaled_shuffle_partitions, scoped_conf

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    # the query is BOUNDED to 200 docs by construction — size the shuffle
    # stages accordingly (no-op if the session is already small) and run
    # the static plan (AQE off, see above)
    with scaled_shuffle_partitions(spark, 200, 25), scoped_conf(
        spark, "spark.sql.adaptive.enabled", "false"
    ):
        pairs = prefix_filtered_jaccard_pairs(d, "text", "doc_id", shingle_k=5, threshold=0.5)
        return cut_lineage(
            pairs.select(
                F.col("key_a").alias("doc_a"),
                F.col("key_b").alias("doc_b"),
                F.round("jaccard", 6).alias("jaccard"),
            )
        )


_MINHASH_ORACLE = """
    WITH shingled AS (
      SELECT doc_id,
             list_transform(
               list_distinct(list_transform(range(1, GREATEST(length(text) - 4, 1) + 1),
                                            i -> substr(text, i, 5))),
               s -> CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) % 1073741824) AS base
      FROM documents
    )
    SELECT doc_id,
           {cols}
    FROM shingled
"""


@register(
    "minhash_signature",
    oracle=_MINHASH_ORACLE.format(
        cols=",\n           ".join(
            f"CAST(list_min(list_transform(base, h -> ({a} * h + {b}) % {MINHASH_P30})) AS BIGINT) AS h{i}"
            for i, (a, b) in enumerate(_minhash_constants(4))
        )
    ),
    tags=("text", "dedup", "minhash"),
)
def minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (4 hash functions shown; the LSH pipeline uses 16)
    computed WITHOUT explode: per-row array transforms + array_min, so the
    signature step is embarrassingly parallel with zero shuffle — the only
    shuffle in the full dedup pipeline is the band-bucket join.

    Hash family: one md5→60-bit base per shingle (engine-independent,
    SURVEY §7.2), then affine 30-bit permutations per hash function
    (overflow-free in signed 64-bit on every engine)."""
    d = load_table(spark, sf_dir, "documents")
    sig = _minhash_sig_col(char_shingles("text", 5), 4)
    return d.select("doc_id", *[sig[i].alias(f"h{i}") for i in range(4)])


_LSH_ORACLE = """
    WITH shingled AS (
      SELECT doc_id,
             list_transform(
               list_distinct(list_transform(range(1, GREATEST(length(text) - 4, 1) + 1),
                                            i -> substr(text, i, 5))),
               s -> CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) % 1073741824) AS base
      FROM documents
    ),
    sig AS (
      SELECT doc_id, [{sig_elems}] AS sig FROM shingled
    ),
    bands AS (
      SELECT doc_id, sig, b.band_id,
             md5(array_to_string(sig[b.band_id * 4 + 1 : b.band_id * 4 + 4], ',')) AS band_hash
      FROM sig, (SELECT unnest(range(0, 4)) AS band_id) b
    ),
    cand AS (
      SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
             len(list_filter(range(1, 17), i -> x.sig[i] = y.sig[i])) / 16.0 AS est
      FROM bands x JOIN bands y
        ON x.band_id = y.band_id AND x.band_hash = y.band_hash AND x.doc_id < y.doc_id
    )
    SELECT doc_a, doc_b, ROUND(est, 6) AS est_jaccard FROM cand WHERE est >= 0.5
"""


@register(
    "minhash_lsh_pairs",
    # FULLY ORACLED: DuckDB reproduces the entire pipeline — signatures
    # (affine family over md5 bases), band hashing via list slicing, the
    # band-bucket self-join, and component-equality Jaccard estimates
    oracle=_LSH_ORACLE.format(
        sig_elems=", ".join(
            f"CAST(list_min(list_transform(base, h -> ({a} * h + {b}) % {MINHASH_P30})) AS BIGINT)"
            for a, b in _minhash_constants(16)
        )
    ),
    tags=("text", "dedup", "minhash", "lsh", "bench"),
)
def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH banding candidate pairs: 16 hashes, 4 bands × 4 rows.
    Docs sharing any band hash become candidates; estimated Jaccard =
    fraction of equal signature components; keep est ≥ 0.5.

    Scale: signatures map-side (see minhash_signature); band join shuffles
    only (band_id, band_hash) keys — no O(n²) pair enumeration. This is
    the canonical 100 TB near-dup design (MinHashLSH as in MLlib, but with
    deterministic md5 hashing and explicit banding). Runs the
    `minhash_lsh_candidates` operator at its defaults."""
    from utils_spark.operators.dedup import minhash_lsh_candidates

    d = load_table(spark, sf_dir, "documents")
    return minhash_lsh_candidates(d, "text", "doc_id").select(
        F.col("key_a").alias("doc_a"),
        F.col("key_b").alias("doc_b"),
        F.round("est_jaccard", 6).alias("est_jaccard"),
    )


@register(
    "dup_cluster_assignments",
    oracle="""
    WITH RECURSIVE shingled AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, GREATEST(length(text) - 4, 1) + 1),
                                          i -> substr(text, i, 5))) AS grams
      FROM documents WHERE doc_id < 200
    ),
    exploded AS (SELECT doc_id, len(grams) AS sz, unnest(grams) AS gram FROM shingled),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             ANY_VALUE(a.sz) AS sz_a, ANY_VALUE(b.sz) AS sz_b, COUNT(*) AS n_common
      FROM exploded a JOIN exploded b ON a.gram = b.gram AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    pairs AS (
      SELECT doc_a, doc_b FROM inter
      WHERE CAST(n_common AS DOUBLE) / (sz_a + sz_b - n_common) >= 0.3
    ),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    reach(node, via) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.dst, r.via FROM reach r JOIN edges e ON e.src = r.node
    )
    SELECT CAST(node AS BIGINT) AS doc_id, CAST(MIN(via) AS BIGINT) AS component
    FROM reach GROUP BY node
    """,
    tags=("text", "dedup", "connected-components", "M19"),
)
def dup_cluster_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster assignment: 5-gram Jaccard >= 0.3 pairs (docs
    < 200) -> connected components -> (doc_id, component=min doc id).
    The distributed min-label propagation (operators.dedup.
    duplicate_clusters) is verified here against a DuckDB RECURSIVE-CTE
    reachability oracle -- an exact cross-engine check of an iterative
    graph algorithm. Also the shape of reference M19's similarity-
    threshold term clustering (R/funx_enrichment.R:174-234)."""
    from utils_spark.operators.dedup import duplicate_clusters

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    shingled = d.select("doc_id", char_shingles("text", 5).alias("grams"))
    exploded = shingled.select("doc_id", F.size("grams").alias("sz"), F.explode("grams").alias("gram"))
    a, b = exploded.alias("a"), exploded.alias("b")
    inter = (
        a.join(b, (F.col("a.gram") == F.col("b.gram")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.first(F.col("a.sz")).alias("sz_a"), F.first(F.col("b.sz")).alias("sz_b"),
             F.count("*").alias("n_common"))
    )
    jac = F.col("n_common").cast("double") / (F.col("sz_a") + F.col("sz_b") - F.col("n_common"))
    pairs = inter.filter(jac >= 0.3).select("doc_a", "doc_b")
    cc = duplicate_clusters(pairs, "doc_a", "doc_b")
    return cc.select(F.col("key").cast("long").alias("doc_id"), F.col("component").cast("long").alias("component"))


@register(
    "fuzzy_name_pairs",
    oracle="""
    WITH p AS (SELECT p_partkey, p_name FROM part WHERE p_partkey < 300)
    SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INT) AS edit_dist
    FROM p a JOIN p b ON a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= 12
      AND abs(length(a.p_name) - length(b.p_name)) <= 12
    """,
    tags=("text", "dedup", "fuzzy", "levenshtein"),
)
def fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy (edit-distance) near-duplicate matching on names: pairs with
    levenshtein <= 12 among a bounded key range. Integer edit distances are
    bit-identical across engines (no float hazards).

    Scale note: raw pairwise levenshtein is O(n^2 * len^2); the length-
    difference prefilter (|len_a - len_b| <= k is a lower bound on edit
    distance) prunes candidates before the expensive kernel, and at real
    scale the pair generator should be an LSH/shingle candidate stage
    (minhash_lsh_pairs) rather than a cross join."""
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_partkey") < 300)
        .select("p_partkey", "p_name", F.length("p_name").alias("ln"))
    )
    a, b = p.alias("a"), p.alias("b")
    return (
        a.join(
            # bounded key range → the probe side broadcasts explicitly
            F.broadcast(b),
            (F.col("a.p_partkey") < F.col("b.p_partkey"))
            # cheap lower-bound prefilter before the O(len^2) kernel
            & (F.abs(F.col("a.ln") - F.col("b.ln")) <= 12),
        )
        .select(
            F.col("a.p_partkey").alias("key_a"),
            F.col("b.p_partkey").alias("key_b"),
            F.levenshtein(F.col("a.p_name"), F.col("b.p_name")).alias("edit_dist"),
        )
        .filter(F.col("edit_dist") <= 12)
    )


@register(
    "bpe_style_tokens",
    oracle="""
    WITH t AS (
      SELECT doc_id, lang,
             regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]') AS toks
      FROM documents
    )
    SELECT doc_id, lang,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(toks)) AS BIGINT) AS n_unique,
           CAST(len(list_filter(toks, x -> x ~ '^[0-9]+$')) AS BIGINT) AS n_numeric
    FROM t
    """,
    tags=("text", "tokens", "bpe"),
)
def bpe_style_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-style regex tokenization (task brief: 'token counting —
    whitespace + a BPE-ish regex'): alpha runs | digit runs | single
    punctuation, the pre-tokenizer split rule of BPE vocabularies
    (restricted to char classes shared exactly by Java and RE2 regex
    engines for oracle parity). Map-only counts per document."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.expr(r"regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)")
    return d.select(
        "doc_id",
        "lang",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_unique"),
        F.size(F.filter(toks, lambda x: x.rlike("^[0-9]+$"))).cast("long").alias("n_numeric"),
    )


@register(
    "tfidf_top_terms",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
      FROM documents
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
    df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY term),
    n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM tf),
    scored AS (
      SELECT t.doc_id, t.term,
             ROUND(t.tf * ln((SELECT n_docs FROM n) / CAST(d.df AS DOUBLE)), 6) AS tfidf
      FROM tf t JOIN df d ON t.term = d.term
    )
    SELECT doc_id, term, tfidf FROM (
      SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rn
      FROM scored
    ) WHERE rn <= 3
    """,
    tags=("text", "tfidf", "tokens"),
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF top-3 terms per document: term frequency x ln(N/df), the
    classic distinctive-term extractor of text curation pipelines.

    Scale shape: token explode shuffles (doc, term) pairs once; the df
    table is VOCABULARY-sized — unbounded under Heaps' law at corpus
    scale, so it joins back on the term key as a plain shuffle join,
    never a broadcast. That join DOES reshuffle both sides: tf is
    hash-partitioned on its (doc_id, term) grouping keys, not on term
    alone, so no co-partitioning is reusable here — the cost is one
    extra term-keyed exchange of the tf table, which is the correct
    price for removing the unbounded df broadcast. Per-doc top-k is a
    bounded window. Rounded before ranking for engine-stable
    ordering."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(word_tokens("text")).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = tf.select("doc_id").distinct().count()
    scored = (
        tf.join(dfreq, "term")
        .select(
            "doc_id",
            "term",
            F.round(F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df").cast("double")), 6).alias(
                "tfidf"
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 3).drop("rn")


@register(
    "chunk_documents",
    oracle="""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents
    ),
    chunks AS (
      SELECT doc_id, s.start_idx,
             array_to_string(t[s.start_idx : LEAST(s.start_idx + 49, len(t))], ' ') AS chunk_text,
             LEAST(s.start_idx + 49, len(t)) - s.start_idx + 1 AS n_tokens
      FROM toks,
           LATERAL (SELECT unnest(range(1, GREATEST(len(t) - 24, 1) + 1, 25)) AS start_idx) s
      WHERE s.start_idx <= len(t)
    )
    SELECT doc_id, CAST(start_idx AS INT) AS start_idx,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           md5(chunk_text) AS chunk_hash
    FROM chunks
    """,
    tags=("text", "chunking", "llm-pipeline"),
)
def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (size 50, stride 25) — THE
    pre-training data preparation primitive: each document becomes
    position-annotated chunks, hashed for downstream chunk-level dedup.

    Zero-UDF: token array → start-index sequence → slice + array_join,
    all JVM expressions; explode is the only row-generating step. At
    100 TB this is embarrassingly parallel map work."""
    d = load_table(spark, sf_dir, "documents")
    toks = word_tokens("text")
    starts = F.sequence(F.lit(1), F.greatest(F.col("n") - 24, F.lit(1)), F.lit(25))
    chunked = (
        d.select("doc_id", toks.alias("t"), F.size(toks).alias("n"))
        .select("doc_id", "t", "n", F.explode(starts).alias("start_idx"))
        .filter(F.col("start_idx") <= F.col("n"))
    )
    chunk_len = F.least(F.col("start_idx") + 49, F.col("n")) - F.col("start_idx") + 1
    chunk_text = F.array_join(F.slice(F.col("t"), F.col("start_idx"), chunk_len), " ")
    return chunked.select(
        "doc_id",
        F.col("start_idx").cast("int").alias("start_idx"),
        chunk_len.cast("long").alias("n_tokens"),
        F.md5(chunk_text).alias("chunk_hash"),
    )


@register(
    "benchmark_decontamination",
    oracle="""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents
    ),
    grams AS (
      SELECT doc_id, array_to_string(t[s.i : s.i + 4], ' ') AS g
      FROM toks, LATERAL (SELECT unnest(range(1, GREATEST(len(t) - 4, 0) + 1)) AS i) s
    ),
    bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 50 = 0),
    hits AS (
      SELECT gr.doc_id, gr.g FROM grams gr JOIN bench b ON gr.g = b.g
      WHERE gr.doc_id % 50 != 0
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(COUNT(DISTINCT g) AS BIGINT) AS n_shared_grams
    FROM hits GROUP BY doc_id
    """,
    tags=("text", "llm-pipeline", "decontamination"),
)
def benchmark_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-set decontamination against a benchmark split — the
    eval-integrity primitive of LLM data pipelines: flag every training
    document sharing an exact word 5-gram with any benchmark document
    (here: doc_id % 50 == 0 plays the benchmark). Output: contaminated
    doc → distinct shared-gram count.

    Scale shape: gram explode is map-only; the join keys on the gram
    string (same shape as the shingle join); the benchmark side is a
    DISTINCT-reduced fraction of the corpus. No pairwise doc×doc work —
    contamination lists, not pair enumeration."""
    d = load_table(spark, sf_dir, "documents")
    t = word_tokens("text")
    n = F.size(t)
    gram_idx = F.when(n >= 5, F.sequence(F.lit(1), n - 4)).otherwise(F.array().cast("array<int>"))
    grams = (
        d.select("doc_id", t.alias("t"), gram_idx.alias("idx"))
        .select("doc_id", "t", F.explode("idx").alias("i"))
        .select("doc_id", F.array_join(F.slice("t", F.col("i"), 5), " ").alias("g"))
    )
    bench = grams.filter(F.col("doc_id") % 50 == 0).select("g").distinct()
    return (
        grams.filter(F.col("doc_id") % 50 != 0)
        .join(bench, "g")
        .groupBy("doc_id")
        .agg(F.countDistinct("g").alias("n_shared_grams"))
    )


@register(
    "fuzzy_decontamination",
    # the NEAR-DUPLICATE analog of benchmark_decontamination: MinHash+LSH
    # banding BETWEEN the train split and the benchmark holdout
    # (doc_id % 50 == 0, the exact query's convention), so paraphrased /
    # lightly-edited benchmark leaks that exact 5-gram matching misses
    # are still flagged (GPT-3 appendix C's motivation). The oracle
    # replays signatures, banding, and the cross-split join. Cross-split
    # hits exist at every SF (4 / 2 / 151 pairs) — never vacuous.
    oracle=_LSH_ORACLE.format(
        sig_elems=", ".join(
            f"CAST(list_min(list_transform(base, h -> ({a} * h + {b}) % {MINHASH_P30})) AS BIGINT)"
            for a, b in _minhash_constants(16)
        )
    )
    .replace("AND x.doc_id < y.doc_id", "AND x.doc_id % 50 <> 0 AND y.doc_id % 50 = 0")
    .replace(
        "SELECT doc_a, doc_b, ROUND(est, 6) AS est_jaccard FROM cand WHERE est >= 0.5",
        """SELECT doc_a AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_bench_matches,
           ROUND(MAX(est), 6) AS max_est_jaccard
    FROM cand WHERE est >= 0.5 GROUP BY doc_a""",
    ),
    tags=("text", "llm-pipeline", "decontamination", "minhash", "lsh"),
)
def fuzzy_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy train-vs-benchmark decontamination: flag training documents
    whose MinHash signature collides in any LSH band with a benchmark
    document AND whose estimated Jaccard >= 0.5 — catching paraphrased
    or lightly-edited benchmark leakage that `benchmark_decontamination`'s
    exact 5-gram join misses. Emits (doc_id, n_bench_matches,
    max_est_jaccard) per contaminated train doc.

    Scale shape: signatures are the same zero-shuffle map-side array
    math as `minhash_lsh_pairs`; the ONLY join keys on
    (band_id, band_hash) with the benchmark split on the build side —
    at 100 TB the benchmark corpus is tiny by construction (a fixed
    eval-suite set), so the probe side streams map-only and no doc×doc
    pairing ever materializes."""
    n_hashes, n_bands = 16, 4
    d = load_table(spark, sf_dir, "documents")
    d = spread_low_parallelism(d)
    # persist the signatures (r15, guide §5): the banded join evaluates
    # both sides, and without the cache each side re-paid the full
    # md5-per-shingle signature pass (measured 6.2 s + 9.2 s of
    # executorRunTime across the two sides of minhash_lsh_pairs at sf0.1).
    # One (doc_id, 16 longs) row per doc — tiny at any scale.
    sig = scratch_persist(
        d.select("doc_id", _minhash_sig_col(char_shingles("text", 5), n_hashes).alias("sig"))
    )
    bands = sig.select(
        "doc_id",
        "sig",
        F.explode(minhash_band_structs("sig", n_hashes, n_bands)).alias("band"),
    ).select("doc_id", "sig", "band.band_id", "band.band_hash")
    train = bands.filter(F.col("doc_id") % 50 != 0)
    bench = bands.filter(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").alias("bench_id"),
        F.col("sig").alias("bsig"),
        "band_id",
        "band_hash",
    )
    est = (
        F.size(F.filter(F.zip_with("sig", "bsig", lambda x, y: x == y), lambda v: v)).cast("double")
        / n_hashes
    )
    cand = (
        train.join(bench, ["band_id", "band_hash"])
        .select("doc_id", "bench_id", est.alias("est"))
        .distinct()  # a pair colliding in several bands counts once
        .filter(F.col("est") >= 0.5)
    )
    return cand.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_bench_matches"),
        F.round(F.max("est"), 6).alias("max_est_jaccard"),
    )


@register(
    "mixture_temperature_weights",
    # temperature-based mixture weighting (Conneau et al. 2020 XLM-R
    # §3.1 / Xue et al. 2021 mT5: q_i ∝ p_i^alpha with alpha = 0.3):
    # per-source token share p, smoothed sampling prob q, and the
    # implied upsample factor q/p — the knob a multilingual/multi-source
    # training run turns to keep small sources from vanishing.
    oracle="""
    WITH tok AS (
      SELECT source,
             len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                             x -> x <> '')) AS nt
      FROM documents
    ),
    per AS (SELECT source, COUNT(*) AS n_docs, SUM(nt) AS n_tokens FROM tok GROUP BY source),
    tot AS (SELECT CAST(SUM(n_tokens) AS DOUBLE) AS t FROM per),
    p AS (SELECT source, n_docs, n_tokens, n_tokens / t AS p FROM per CROSS JOIN tot),
    z AS (SELECT SUM(pow(p, 0.3)) AS z FROM p)
    SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           ROUND(p, 6) AS token_share,
           ROUND(pow(p, 0.3) / z, 6) AS sample_prob,
           ROUND(pow(p, 0.3) / z / p, 6) AS upsample_factor
    FROM p CROSS JOIN z
    """,
    tags=("text", "llm-pipeline", "sampling", "mixing"),
)
def mixture_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-smoothed source-mixing weights (XLM-R / mT5,
    alpha = 0.3): per source, token share p_i = n_i / N, sampling
    probability q_i = p_i^alpha / sum_j p_j^alpha, and upsample factor
    q_i / p_i. alpha < 1 flattens the mixture so low-resource sources
    are seen more often than their raw share.

    Scale shape: one corpus-sized map (token count per doc) feeding a
    source-keyed agg (bounded by #sources), then two 1-row scalar
    aggregates broadcast back — nothing corpus-sized ever shuffles
    twice."""
    d = load_table(spark, sf_dir, "documents")
    per = (
        d.select("source", F.size(word_tokens("text")).alias("nt"))
        .groupBy("source")
        .agg(F.count("*").alias("n_docs"), F.sum("nt").alias("n_tokens"))
    )
    tot = per.agg(F.sum("n_tokens").cast("double").alias("t"))
    p = per.crossJoin(F.broadcast(tot)).withColumn("p", F.col("n_tokens") / F.col("t"))
    z = p.agg(F.sum(F.pow("p", F.lit(0.3))).alias("z"))
    return p.crossJoin(F.broadcast(z)).select(
        "source",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.round("p", 6).alias("token_share"),
        F.round(F.pow("p", F.lit(0.3)) / F.col("z"), 6).alias("sample_prob"),
        F.round(F.pow("p", F.lit(0.3)) / F.col("z") / F.col("p"), 6).alias("upsample_factor"),
    )


@register(
    "corpus_mixture_sample",
    oracle="""
    WITH ranked AS (
      SELECT lang, source, doc_id, n_chars,
             row_number() OVER (
               PARTITION BY lang, source
               ORDER BY md5(concat(CAST(doc_id AS VARCHAR), ':', '290'))) AS rn
      FROM documents
    )
    SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_sampled,
           CAST(SUM(doc_id) AS BIGINT) AS id_checksum,
           CAST(SUM(n_chars) AS BIGINT) AS chars_sum
    FROM ranked WHERE rn <= 20 GROUP BY lang, source
    """,
    tags=("text", "llm-pipeline", "sampling", "mixing"),
)
def corpus_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-(lang, source) quota sampling — the data-mixing
    primitive for training-corpus composition: exactly ≤20 docs per
    stratum chosen by engine- and partitioning-independent md5 order
    (SURVEY §7.2), checksummed so the oracle proves the identical rows
    were picked on both engines."""
    from utils_spark.operators.sampling import stratified_sample_exact

    d = load_table(spark, sf_dir, "documents")
    return (
        stratified_sample_exact(d, ["lang", "source"], "doc_id", 20, seed=290)
        .groupBy("lang", "source")
        .agg(
            F.count("*").alias("n_sampled"),
            F.sum("doc_id").cast("long").alias("id_checksum"),
            F.sum("n_chars").cast("long").alias("chars_sum"),
        )
    )


@register(
    "sequence_packing",
    oracle="""
    WITH t AS (
      SELECT doc_id, source, doc_id % 8 AS shard,
             CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens
      FROM documents
    ), c AS (
      SELECT source, shard, n_tokens,
             COALESCE(SUM(n_tokens) OVER (PARTITION BY source, shard ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
      FROM t
    )
    SELECT source, CAST(shard AS BIGINT) AS shard,
           CAST(floor(cum_before / 4096.0) AS BIGINT) AS seq_id,
           COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens,
           ROUND(SUM(n_tokens) / 4096.0, 6) AS fill_ratio
    FROM c GROUP BY source, shard, seq_id
    """,
    tags=("text", "llm-pipeline", "packing"),
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence packing: assign documents (in deterministic
    doc_id order, sharded) to fixed token-budget sequences of 4096 via a
    running-token-count bucket — the standard streaming pack used to
    build LLM training batches (a sequence may overrun the budget by at
    most one document; the strict reset-based greedy variant needs
    per-shard sequential state and buys <1% fill at this budget).

    Scale: the window partitions on (source, shard) — shard fans each
    source across the cluster so no single task packs a whole source; one
    shuffle for the window, one (map-combined) for the per-sequence agg.
    On a real corpus the shard key is the input file/split id."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.pmod(F.col("doc_id"), F.lit(8)).cast("long").alias("shard"),
        F.size(word_tokens("text")).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("source", "shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = d.withColumn(
        "seq_id",
        F.floor(F.coalesce(F.sum("n_tokens").over(w), F.lit(0)) / F.lit(4096.0)).cast("long"),
    )
    return packed.groupBy("source", "shard", "seq_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("seq_tokens"),
        F.round(F.sum("n_tokens") / F.lit(4096.0), 6).alias("fill_ratio"),
    )


@register(
    "repetition_filter",
    oracle="""
    WITH t AS (
      SELECT doc_id, lang, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents
    ), b AS (
      SELECT doc_id, lang,
             unnest(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1])) AS bigram
      FROM t WHERE len(toks) >= 2
    ), c AS (
      SELECT doc_id, lang, bigram, COUNT(*) AS n FROM b GROUP BY doc_id, lang, bigram
    )
    SELECT doc_id, lang,
           CAST(SUM(n) AS BIGINT) AS n_bigrams,
           CAST(MAX(n) AS BIGINT) AS top_bigram_n,
           ROUND(MAX(n) / CAST(SUM(n) AS DOUBLE), 6) AS top_share,
           CASE WHEN MAX(n) / CAST(SUM(n) AS DOUBLE) > 0.1 THEN 1 ELSE 0 END AS repetitive
    FROM c GROUP BY doc_id, lang
    """,
    tags=("text", "llm-pipeline", "quality", "repetition"),
)
def repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality filter (the Gopher/MassiveText 'fraction
    of most-common n-gram' heuristic): per document, the share of bigram
    occurrences taken by the single most frequent bigram; docs above 10%
    are flagged repetitive.

    Scale: bigrams explode to (doc, bigram) and aggregate with map-side
    combine — expansion is bounded by tokens-per-doc, shuffles hash on
    doc_id, never doc×doc."""
    d = load_table(spark, sf_dir, "documents")
    toks = word_tokens("text")
    bigrams = F.zip_with(
        F.slice(toks, 1, F.size(toks) - 1),
        F.slice(toks, 2, F.size(toks) - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    withb = d.select("doc_id", "lang", bigrams.alias("bigrams")).filter(
        F.size(toks) >= 2
    )
    counts = (
        withb.select("doc_id", "lang", F.explode("bigrams").alias("bigram"))
        .groupBy("doc_id", "lang", "bigram")
        .agg(F.count("*").alias("n"))
    )
    share = F.col("top_bigram_n") / F.col("n_bigrams").cast("double")
    return (
        counts.groupBy("doc_id", "lang")
        .agg(F.sum("n").alias("n_bigrams"), F.max("n").alias("top_bigram_n"))
        .select(
            "doc_id",
            "lang",
            "n_bigrams",
            "top_bigram_n",
            F.round(share, 6).alias("top_share"),
            F.when(share > 0.1, 1).otherwise(0).alias("repetitive"),
        )
    )


@register(
    "pii_scrub",
    # PII is PLANTED deterministically (the synthetic corpus has none), so
    # the regexes must each fire exactly once per doc and the scrub is
    # fully checkable cross-engine. DuckDB needs the 'g' flag to match
    # Spark's replace-all regexp_replace semantics.
    oracle="""
    WITH aug AS (
      SELECT doc_id, source,
             text || ' contact user' || doc_id || '@mail.example.com via https://w'
                  || doc_id || '.example.org/p?q=1 from 10.0.' || (doc_id % 256) || '.7' AS t
      FROM documents
    ), s1 AS (
      SELECT doc_id, source,
             len(regexp_extract_all(t, 'https?://[^ ]+')) AS n_urls,
             regexp_replace(t, 'https?://[^ ]+', '<URL>', 'g') AS t
      FROM aug
    ), s2 AS (
      SELECT doc_id, source, n_urls,
             len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS n_emails,
             regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t
      FROM s1
    ), s3 AS (
      SELECT doc_id, source, n_urls, n_emails,
             len(regexp_extract_all(t, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS n_ips,
             regexp_replace(t, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g') AS t
      FROM s2
    )
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(n_urls) AS BIGINT) AS urls,
           CAST(SUM(n_emails) AS BIGINT) AS emails,
           CAST(SUM(n_ips) AS BIGINT) AS ips,
           CAST(SUM(length(t)) AS BIGINT) AS scrubbed_chars
    FROM s3 GROUP BY source
    """,
    tags=("text", "llm-pipeline", "pii", "scrub"),
)
def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII/URL scrubbing for training-data curation: URLs, then emails,
    then IPv4s are counted and replaced with typed placeholder tokens
    (scrub order matters — emails contain dots URLs would eat). The
    corpus is synthetic word streams, so one of each is PLANTED per
    document from doc_id, making every regex provably fire and the
    scrubbed output length exact cross-engine. Map-only, zero shuffle
    before the per-source rollup."""
    url_pat = r"https?://[^ ]+"
    email_pat = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    ip_pat = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@mail.example.com via https://w"),
            F.col("doc_id").cast("string"),
            F.lit(".example.org/p?q=1 from 10.0."),
            F.pmod(F.col("doc_id"), F.lit(256)).cast("string"),
            F.lit(".7"),
        ).alias("t"),
    )
    s1 = d.select(
        "doc_id",
        "source",
        F.size(F.regexp_extract_all("t", F.lit(url_pat), F.lit(0))).alias("n_urls"),
        F.regexp_replace("t", url_pat, "<URL>").alias("t"),
    )
    s2 = s1.select(
        "doc_id",
        "source",
        "n_urls",
        F.size(F.regexp_extract_all("t", F.lit(email_pat), F.lit(0))).alias("n_emails"),
        F.regexp_replace("t", email_pat, "<EMAIL>").alias("t"),
    )
    s3 = s2.select(
        "doc_id",
        "source",
        "n_urls",
        "n_emails",
        F.size(F.regexp_extract_all("t", F.lit(ip_pat), F.lit(0))).alias("n_ips"),
        F.regexp_replace("t", ip_pat, "<IP>").alias("t"),
    )
    return s3.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_urls").alias("urls"),
        F.sum("n_emails").alias("emails"),
        F.sum("n_ips").alias("ips"),
        F.sum(F.length("t")).alias("scrubbed_chars"),
    )


@register(
    "boilerplate_strip",
    # boilerplate is PLANTED deterministically (the synthetic corpus is
    # single-line word soup), so every rule provably fires on exactly its
    # planted line and the keep-line proves the filter is not
    # over-aggressive; both engines run the IDENTICAL line-level rules
    oracle="""
    WITH aug AS (
      SELECT doc_id,
             'HOME | ABOUT | CONTACT US' || chr(10) ||
             'Copyright 2024 ExampleCorp' || chr(10) ||
             'About our data pipeline' || chr(10) ||
             text || chr(10) ||
             'Subscribe to our newsletter today' AS t
      FROM documents
    ),
    l AS (SELECT doc_id, string_split(t, chr(10)) AS ls FROM aug),
    k AS (
      SELECT doc_id, len(ls) AS n_lines,
             list_filter(ls, x -> NOT (contains(x, ' | ')
                                       OR lower(x) LIKE 'copyright%'
                                       OR contains(lower(x), 'subscribe to our newsletter'))) AS kept
      FROM l
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(n_lines AS BIGINT) AS n_lines,
           CAST(n_lines - len(kept) AS BIGINT) AS n_removed,
           CAST(length(array_to_string(kept, chr(10))) AS BIGINT) AS clean_chars
    FROM k
    """,
    tags=("text", "llm-pipeline", "boilerplate"),
)
def boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-level boilerplate removal for web-corpus curation (nav bars,
    copyright footers, subscribe calls-to-action — the rule-based strip
    every crawl pipeline runs before quality scoring): documents are
    augmented with planted boilerplate lines plus a look-alike KEEP line,
    then split → per-line rule filter → rejoin, entirely with JVM array
    expressions (split/filter/array_join — zero UDF, map-only, no
    shuffle). At 100 TB this is a pure scan-transform; the rules are the
    per-line predicate of C4/RefinedWeb-style cleaning."""
    docs = load_table(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.lit("HOME | ABOUT | CONTACT US\n"),
            F.lit("Copyright 2024 ExampleCorp\n"),
            F.lit("About our data pipeline\n"),
            F.col("text"),
            F.lit("\nSubscribe to our newsletter today"),
        ).alias("t"),
    )

    def is_boiler(x):
        return (
            x.contains(" | ")
            | F.lower(x).startswith("copyright")
            | F.lower(x).contains("subscribe to our newsletter")
        )

    lines = F.split(F.col("t"), "\n")
    kept = F.filter(lines, lambda x: ~is_boiler(x))
    return aug.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.size(lines).cast("long").alias("n_lines"),
        (F.size(lines) - F.size(kept)).cast("long").alias("n_removed"),
        F.length(F.array_join(kept, "\n")).cast("long").alias("clean_chars"),
    )


@register(
    "dedup_keep_best",
    # extends the RECURSIVE-CTE component oracle with the keep-policy:
    # within each duplicate cluster keep the argmax-quality doc (lexical
    # diversity, ties -> smallest doc_id); identical integer arithmetic +
    # identical IEEE division in both engines make the ranking exact.
    # The oracle computes the EXACT Jaccard>=0.8 pair set the slow way
    # (all-pairs gram join); the Spark side must recover the identical set
    # through MinHash-LSH candidates + candidate-only exact verification —
    # so the oracle proves the scale path loses no true duplicate pair.
    oracle="""
    WITH RECURSIVE shingled AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, GREATEST(length(text) - 4, 1) + 1),
                                          i -> substr(text, i, 5))) AS grams
      FROM documents
    ),
    exploded AS (SELECT doc_id, len(grams) AS sz, unnest(grams) AS gram FROM shingled),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             ANY_VALUE(a.sz) AS sz_a, ANY_VALUE(b.sz) AS sz_b, COUNT(*) AS n_common
      FROM exploded a JOIN exploded b ON a.gram = b.gram AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    pairs AS (
      SELECT doc_a, doc_b FROM inter
      WHERE CAST(n_common AS DOUBLE) / (sz_a + sz_b - n_common) >= 0.8
    ),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    reach(node, via) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.dst, r.via FROM reach r JOIN edges e ON e.src = r.node
    ),
    comp AS (SELECT node AS doc_id, MIN(via) AS component FROM reach GROUP BY node),
    quality AS (
      SELECT doc_id,
             CAST(len(list_distinct(regexp_split_to_array(trim(text), '\\s+'))) AS DOUBLE)
             / len(regexp_split_to_array(trim(text), '\\s+')) AS q
      FROM documents
    ),
    ranked AS (
      SELECT c.component, c.doc_id, q.q,
             row_number() OVER (PARTITION BY c.component ORDER BY q.q DESC, c.doc_id) AS rnk
      FROM comp c JOIN quality q USING (doc_id)
    )
    SELECT CAST(component AS BIGINT) AS component,
           CAST(COUNT(*) AS BIGINT) AS cluster_size,
           CAST(MIN(CASE WHEN rnk = 1 THEN doc_id END) AS BIGINT) AS kept_doc,
           CAST(SUM(CASE WHEN rnk > 1 THEN doc_id ELSE 0 END) AS BIGINT) AS removed_checksum
    FROM ranked GROUP BY component
    """,
    tags=("text", "dedup", "llm-pipeline", "keep-policy"),
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection per duplicate cluster — the KEEP step
    every dedup pipeline runs after clustering: MinHash-LSH candidate
    pairs → exact-Jaccard verification on candidates ONLY → connected
    components (distributed min-label propagation) → within each cluster
    keep the highest-lexical-diversity doc (ties → smallest id), drop the
    rest. Outputs per-cluster accounting with a checksum of the removed
    docs so the oracle proves the identical keep/drop decisions.

    Scale: the candidate stage is the production shape — zero-shuffle
    MinHash signatures, a (band_id, band_hash) self-join (never all
    co-occurring-gram pairs, which skew-bomb on any hot shingle), and the
    exact-Jaccard join is keyed by candidate pair, so its volume is
    O(|candidates| · grams/doc), not O(Σ df²). The oracle computes the
    same >= 0.8 pair set exactly, proving the LSH stage (32 hashes,
    8 bands, est >= 0.5 prefilter) loses no true pair at any tested SF.
    """
    from pyspark.sql import Window

    from utils_spark.operators.dedup import duplicate_clusters, lsh_verified_pairs

    d = load_table(spark, sf_dir, "documents")
    pairs = lsh_verified_pairs(
        d, "text", "doc_id", n_hashes=32, n_bands=8, shingle_k=5,
        min_est_jaccard=0.5, min_jaccard=0.8,
    ).select(F.col("key_a").alias("doc_a"), F.col("key_b").alias("doc_b"))
    cc = duplicate_clusters(pairs, "doc_a", "doc_b").select(
        F.col("key").cast("long").alias("doc_id"), F.col("component").cast("long").alias("component")
    )
    toks = word_tokens("text")
    quality = d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        (F.size(F.array_distinct(toks)).cast("double") / F.size(toks)).alias("q"),
    )
    w = Window.partitionBy("component").orderBy(F.desc("q"), F.asc("doc_id"))
    ranked = cc.join(quality, "doc_id").withColumn("rnk", F.row_number().over(w))
    return ranked.groupBy("component").agg(
        F.count("*").alias("cluster_size"),
        F.min(F.when(F.col("rnk") == 1, F.col("doc_id"))).alias("kept_doc"),
        F.sum(F.when(F.col("rnk") > 1, F.col("doc_id")).otherwise(0)).alias("removed_checksum"),
    )


@register(
    "vocab_coverage",
    # tokenizer-training support: corpus token counts, frequency-ranked
    # vocabulary with cumulative coverage — both engines rank by
    # (count DESC, token ASC) so the prefix and cumsum are identical
    oracle="""
    WITH tok AS (
      SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS token FROM documents
    ),
    counts AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token),
    tot AS (SELECT SUM(cnt) AS t FROM counts),
    ranked AS (
      SELECT token, cnt, row_number() OVER (ORDER BY cnt DESC, token) AS rank
      FROM counts
    )
    SELECT CAST(rank AS BIGINT) AS rank, token, CAST(cnt AS BIGINT) AS cnt,
           ROUND(SUM(cnt) OVER (ORDER BY rank ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) / (SELECT t FROM tot), 6) AS cum_coverage
    FROM ranked WHERE rank <= 1000
    """,
    tags=("text", "vocab", "llm-pipeline", "tokenizer"),
)
def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary building with coverage accounting — the corpus-frequency
    table a tokenizer-training step starts from: token counts, frequency
    rank, and the cumulative fraction of the corpus covered by the top-k
    vocabulary prefix (the curve that picks vocab size).

    Scale: token explode + one groupBy(token) shuffle (map-side combined);
    the top-1000 prefix is taken with a DISTRIBUTED sort+limit
    (TakeOrderedAndProject: per-partition top-k, then merge — never a
    global single-task window over the whole vocabulary), so the window
    rank + cumsum run on 1000 rows only."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    counts = (
        d.select(F.explode(word_tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
    )
    total = counts.agg(F.sum("cnt").alias("t"))
    # (cnt DESC, token ASC) is a total order, so limit() is deterministic
    # and picks exactly the window-rank prefix — without ranking the tail
    top = counts.orderBy(F.desc("cnt"), F.asc("token")).limit(1000)
    wrank = Window.orderBy(F.desc("cnt"), F.asc("token"))
    ranked = top.withColumn("rank", F.row_number().over(wrank))
    wcum = Window.orderBy("rank").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        ranked.crossJoin(F.broadcast(total))
        .withColumn("cum_coverage", F.round(F.sum("cnt").over(wcum) / F.col("t"), 6))
        .select(
            F.col("rank").cast("long").alias("rank"),
            "token",
            F.col("cnt").cast("long").alias("cnt"),
            "cum_coverage",
        )
    )


@register(
    "char_entropy_filter",
    # Shannon character entropy per document, computed with IDENTICAL
    # list arithmetic in both engines (position-range -> substr chars,
    # distinct chars, per-char counts, -sum(p ln p)); the gibberish flag
    # compares the UNROUNDED entropy far from any data value, so float
    # noise cannot flip it
    oracle="""
    WITH chars AS (
      SELECT doc_id,
             list_transform(range(1, length(text) + 1), i -> substr(text, i, 1)) AS cs
      FROM documents
    ),
    ent AS (
      SELECT doc_id, len(cs) AS n,
             list_aggregate(
               list_transform(list_distinct(cs),
                 c -> -(CAST(len(list_filter(cs, x -> x = c)) AS DOUBLE) / len(cs))
                      * ln(CAST(len(list_filter(cs, x -> x = c)) AS DOUBLE) / len(cs))),
               'sum') AS h
      FROM chars
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(n AS BIGINT) AS n_chars,
           ROUND(h, 4) AS entropy, h < 3.0 AS low_entropy
    FROM ent
    """,
    tags=("text", "quality", "llm-pipeline", "entropy"),
)
def char_entropy_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-entropy gibberish detection — the cheap perplexity proxy
    of LLM-data curation (repeated-char spam and base64 blobs sit far from
    natural-text entropy): per-doc Shannon entropy over the character
    distribution, flagged below 3.0 nats.

    Scale: char explode + two-level hash aggregation, both whole-stage
    codegen. The shuffle is NOT per-character: partial aggregation
    combines (doc, char) pairs map-side, so only ~alphabet_size rows per
    document cross the wire. (A zero-shuffle array formulation —
    O(distinct x len) nested filters per doc — was measured 60x slower:
    higher-order expressions don't codegen.)"""
    d = load_table(spark, sf_dir, "documents")
    # split on the empty pattern is one codegen regex pass — measured 10x
    # faster than a transform(sequence, substr) char builder (per-char
    # substring allocations); empty text would yield a single '' artifact
    # element, filtered defensively (documents are never empty here)
    ex = d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.length("text").cast("long").alias("n"),
        F.explode(F.split(F.col("text"), "")).alias("c"),
    ).filter(F.col("c") != "")
    per_char = ex.groupBy("doc_id", "c").agg(
        F.count("*").alias("cnt"), F.first("n").alias("n")
    )
    p = F.col("cnt").cast("double") / F.col("n")
    ent = per_char.groupBy("doc_id").agg(
        F.first("n").alias("n_chars"),
        F.sum(-p * F.log(p)).alias("h"),
    )
    return ent.select(
        "doc_id",
        "n_chars",
        F.round("h", 4).alias("entropy"),
        (F.col("h") < 3.0).alias("low_entropy"),
    )


@register(
    "curation_pipeline",
    # the north-star E-pipeline as ONE cross-engine-proved query: every
    # stage is deterministic (identical rules, identical arithmetic), so
    # the full chain composes into a DuckDB CTE pipeline and the per-source
    # funnel accounting is hash-exact
    oracle="""
    WITH aug AS (
      SELECT doc_id, source,
             'HOME | ABOUT | CONTACT US' || chr(10) || text || chr(10) ||
             'Subscribe to our newsletter today' AS t
      FROM documents
    ),
    cleaned AS (
      SELECT doc_id, source,
             array_to_string(
               list_filter(string_split(t, chr(10)),
                 x -> NOT (contains(x, ' | ')
                           OR contains(lower(x), 'subscribe to our newsletter'))),
               chr(10)) AS t
      FROM aug
    ),
    scored AS (
      SELECT doc_id, source, t,
             len(regexp_split_to_array(trim(t), '\\s+')) AS n_tokens,
             CAST(len(list_distinct(regexp_split_to_array(trim(t), '\\s+'))) AS DOUBLE)
             / len(regexp_split_to_array(trim(t), '\\s+')) AS distinct_ratio
      FROM cleaned
    ),
    quality AS (
      SELECT * FROM scored WHERE n_tokens >= 10 AND distinct_ratio > 0.2
    ),
    deduped AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY md5(t) ORDER BY doc_id) AS rn
        FROM quality
      ) WHERE rn = 1
    ),
    packed AS (
      SELECT source, doc_id, n_tokens, doc_id % 8 AS shard,
             CAST(floor(COALESCE(SUM(n_tokens) OVER (PARTITION BY source, doc_id % 8 ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 2048.0)
                  AS BIGINT) AS seq_id
      FROM deduped
    )
    SELECT s.source,
           CAST(COUNT(*) AS BIGINT) AS docs_in,
           CAST(SUM(CASE WHEN s.n_tokens >= 10 AND s.distinct_ratio > 0.2
                         THEN 1 ELSE 0 END) AS BIGINT) AS docs_quality_pass,
           CAST((SELECT COUNT(*) FROM deduped d WHERE d.source = s.source) AS BIGINT) AS docs_kept,
           CAST((SELECT COUNT(DISTINCT (shard, seq_id)) FROM packed p WHERE p.source = s.source) AS BIGINT) AS n_sequences,
           CAST((SELECT COALESCE(SUM(n_tokens), 0) FROM packed p WHERE p.source = s.source) AS BIGINT) AS total_tokens
    FROM scored s GROUP BY s.source
    """,
    tags=("text", "llm-pipeline", "e2e", "curation"),
)
def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END training-data curation (the north-star pipeline as one
    query): boilerplate strip → token/diversity quality gate → exact
    dedup on cleaned content (keep smallest doc_id) → 2048-token sequence
    packing per source → per-source funnel accounting (docs in, quality
    pass, kept after dedup, sequences, tokens). Every stage is the same
    deterministic rule set the standalone queries use, so the whole chain
    is cross-engine hash-exact.

    Scale: strip + score are map-only; dedup shuffles on the content hash
    (the exact-dedup primitive); packing uses the SAME (source, shard)
    sharded ordered window as `sequence_packing`, so no single source ever
    sorts in one task — the standalone stages' shapes, composed."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    aug = d.select(
        "doc_id",
        "source",
        F.concat(
            F.lit("HOME | ABOUT | CONTACT US\n"),
            F.col("text"),
            F.lit("\nSubscribe to our newsletter today"),
        ).alias("t"),
    )
    lines = F.split(F.col("t"), "\n")
    kept_lines = F.filter(
        lines,
        lambda x: ~(x.contains(" | ") | F.lower(x).contains("subscribe to our newsletter")),
    )
    cleaned = aug.select("doc_id", "source", F.array_join(kept_lines, "\n").alias("t"))
    toks = F.split(F.trim(F.col("t")), "\\s+")
    scored = cleaned.select(
        "doc_id",
        "source",
        "t",
        F.size(toks).alias("n_tokens"),
        (F.size(F.array_distinct(toks)).cast("double") / F.size(toks)).alias("distinct_ratio"),
    )
    passing = (F.col("n_tokens") >= 10) & (F.col("distinct_ratio") > 0.2)
    quality = scored.filter(passing)
    wdup = Window.partitionBy(F.md5("t")).orderBy("doc_id")
    deduped = quality.withColumn("rn", F.row_number().over(wdup)).filter(F.col("rn") == 1)
    shard = F.pmod(F.col("doc_id"), F.lit(8))
    wpack = Window.partitionBy("source", shard).orderBy("doc_id")
    packed = deduped.select(
        "source",
        "n_tokens",
        shard.alias("shard"),
        F.floor(
            F.coalesce(
                F.sum("n_tokens").over(wpack.rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0),
            )
            / 2048.0
        ).alias("seq_id"),
    )
    funnel = scored.groupBy("source").agg(
        F.count("*").alias("docs_in"),
        F.sum(passing.cast("long")).alias("docs_quality_pass"),
    )
    kept = deduped.groupBy("source").agg(F.count("*").alias("docs_kept"))
    seqs = packed.groupBy("source").agg(
        F.countDistinct("shard", "seq_id").alias("n_sequences"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
    )
    return (
        funnel.join(kept, "source", "left")
        .join(seqs, "source", "left")
        .select(
            "source",
            "docs_in",
            "docs_quality_pass",
            F.coalesce("docs_kept", F.lit(0)).alias("docs_kept"),
            F.coalesce("n_sequences", F.lit(0)).alias("n_sequences"),
            F.coalesce("total_tokens", F.lit(0)).alias("total_tokens"),
        )
    )


@register(
    "quality_classifier_filter",
    # exact-recovery certificate for MODEL-BASED quality filtering: the
    # planted feature margin (+-1 signal, |noise| <= 0.1) makes the seed
    # set linearly separable with margin ~0.9, so the trained separator
    # provably classifies every doc (seed or not) by the signal's sign —
    # the keep set equals the planted doc_id rule and the oracle is exact
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_seed,
           CAST(SUM(CASE WHEN doc_id % 7 < 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN doc_id % 7 < 3 THEN doc_id ELSE 0 END) AS BIGINT)
             AS kept_checksum,
           1.0 AS accuracy
    FROM documents
    """,
    tags=("text", "quality", "llm-pipeline", "ml", "certificate"),
)
def quality_classifier_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering — the classifier gate modern curation
    pipelines run after rule-based cleaning (train a quality model on a
    labeled seed set, score the whole corpus, keep docs above threshold;
    the FineWeb-Edu / DCLM-style stage). Rule-based quality lives in
    `quality_score`; this adds the LEARNED gate with the same engine
    contract.

    Distributed shape: LogisticRegression.fit is a treeAggregate over the
    seed partition (no driver-side data pass). Scoring applies the fitted
    COEFFICIENTS as native column expressions (w·x + b > 0) rather than
    `model.transform`: the arithmetic is identical, it keeps the corpus
    pass inside whole-stage codegen instead of a ScalaUDF, and it avoids
    a Spark 4.1 serialization trap — the model's trainingSummary captures
    the SparkSession, which becomes task-unserializable once any
    Observation has been used in the session (as the Louvain sweeps do).
    At 100 TB the scoring pass is a pure scan-transform and only the
    (tiny) seed set feeds training.

    Certificate: quality ground truth is planted as doc_id % 7 < 3; the
    signal feature is the label's +-1 encoding plus md5-derived noise
    bounded in [-0.1, 0.1) (margin ~0.9), a real lexical-diversity feature
    rides along as an uninformative second dimension, and the seed is
    doc_id % 3 == 0 (both classes present at every SF). Any separator of
    the seed margin classifies ALL docs by the signal's sign, so
    exact-recovery (accuracy 1.0, keep-set checksum) has a constant-free
    SQL oracle over the planted rule."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.functions import array_to_vector

    docs = load_table(spark, sf_dir, "documents")
    planted = (F.pmod("doc_id", F.lit(7)) < 3).cast("double")
    noise = (md5_long(F.col("doc_id").cast("string")) % 1000) / 5000.0 - 0.1
    toks = word_tokens("text")
    f1 = F.when(planted == 1.0, 1.0).otherwise(-1.0) + noise
    f2 = F.size(F.array_distinct(toks)).cast("double") / F.size(toks)
    feat = docs.select(
        "doc_id",
        planted.alias("y"),
        f1.alias("f1"),
        f2.alias("f2"),
        array_to_vector(F.array(f1, f2)).alias("features"),
    )
    seed = feat.filter(F.pmod("doc_id", F.lit(3)) == 0)
    model = LogisticRegression(
        featuresCol="features", labelCol="y", maxIter=50, regParam=0.01
    ).fit(seed)
    # score with the raw separator: w·x + b > 0  ⟺  P(y=1) > 0.5
    w = model.coefficients.toArray()
    margin = float(w[0]) * F.col("f1") + float(w[1]) * F.col("f2") + float(model.intercept)
    scored = feat.select(
        "doc_id", "y", F.when(margin > 0, 1.0).otherwise(0.0).alias("prediction")
    )
    return scored.agg(
        F.count("*").alias("n_docs"),
        F.sum((F.pmod("doc_id", F.lit(3)) == 0).cast("long")).alias("n_seed"),
        F.sum((F.col("prediction") == 1.0).cast("long")).alias("n_kept"),
        F.sum(F.when(F.col("prediction") == 1.0, F.col("doc_id")).otherwise(0))
        .cast("long")
        .alias("kept_checksum"),
        F.round(F.avg((F.col("prediction") == F.col("y")).cast("double")), 6).alias("accuracy"),
    )


@register(
    "bm25_retrieval",
    # identical BM25 arithmetic (k1=1.2, b=0.75, ln-IDF) in both engines;
    # ranking key is (9dp-rounded score DESC, doc_id) in BOTH so the top-20
    # prefix is deterministic cross-engine
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
      FROM documents
    ),
    dl AS (
      SELECT doc_id, len(regexp_split_to_array(trim(text), '\\s+')) AS dlen
      FROM documents
    ),
    stats AS (
      SELECT COUNT(*) AS n_docs, AVG(dlen) AS avglen FROM dl
    ),
    tf AS (
      SELECT doc_id, token, COUNT(*) AS tf FROM tok
      WHERE token IN ('window', 'join', 'column') GROUP BY doc_id, token
    ),
    idf AS (
      SELECT token,
             ln(1 + ((SELECT n_docs FROM stats) - COUNT(DISTINCT doc_id) + 0.5)
                    / (COUNT(DISTINCT doc_id) + 0.5)) AS idf
      FROM tf GROUP BY token
    ),
    scored AS (
      SELECT tf.doc_id,
             SUM(idf.idf * tf.tf * 2.2
                 / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dlen / (SELECT avglen FROM stats))))
               AS score
      FROM tf JOIN idf USING (token) JOIN dl USING (doc_id)
      GROUP BY tf.doc_id
    ),
    ranked AS (
      SELECT doc_id, score,
             row_number() OVER (ORDER BY ROUND(score, 9) DESC, doc_id) AS rank
      FROM scored
    )
    SELECT CAST(rank AS BIGINT) AS rank, doc_id, ROUND(score, 6) AS bm25
    FROM ranked WHERE rank <= 20
    """,
    tags=("text", "retrieval", "llm-pipeline", "bm25"),
)
def bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k retrieval over the corpus — the scoring primitive behind
    retrieval-based decontamination and retrieval-augmented data selection
    (query terms: 'window join column', k1=1.2, b=0.75, the
    Robertson/Sparck-Jones ln-IDF).

    Scale shape: the token explode is filtered to the query terms BEFORE
    any shuffle (an In predicate on the exploded token), so tf is keyed by
    (doc, term) with |terms| bounded by the query; df/IDF aggregate over
    the query terms only; corpus stats (N, avg doclen) are one scalar agg
    broadcast via crossJoin; the top-20 is a distributed
    TakeOrderedAndProject (per-partition top-k, then merge), never a
    global sort."""
    TERMS = ["window", "join", "column"]
    K1, B = 1.2, 0.75
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", word_tokens("text").alias("toks"))
    dl = toks.select("doc_id", F.size("toks").alias("dlen"))
    stats = dl.agg(F.count("*").alias("n_docs"), F.avg("dlen").alias("avglen"))
    tf = (
        toks.select("doc_id", F.explode("toks").alias("token"))
        .filter(F.col("token").isin(TERMS))
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("tf"))
    )
    idf = (
        tf.groupBy("token")
        .agg(F.countDistinct("doc_id").alias("df"))
        .crossJoin(F.broadcast(stats.select("n_docs")))
        .select(
            "token",
            F.log(1 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)).alias("idf"),
        )
    )
    scored = (
        tf.join(F.broadcast(idf), "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats.select("avglen")))
        .withColumn(
            "contrib",
            F.col("idf")
            * F.col("tf")
            * (K1 + 1)
            / (F.col("tf") + K1 * (1 - B + B * F.col("dlen") / F.col("avglen"))),
        )
        .groupBy("doc_id")
        .agg(F.sum("contrib").alias("score"))
    )
    top = scored.orderBy(F.round("score", 9).desc(), F.col("doc_id")).limit(20)
    from pyspark.sql import Window

    w = Window.orderBy(F.round("score", 9).desc(), F.col("doc_id"))
    return top.withColumn("rank", F.row_number().over(w)).select(
        F.col("rank").cast("long").alias("rank"),
        "doc_id",
        F.round("score", 6).alias("bm25"),
    )


@register(
    "importance_weights_dsir",
    # DSIR-style hashed-feature importance weights: identical md5 bucket
    # arithmetic, identical Laplace smoothing, identical ln ratios in both
    # engines; per-doc log-weight sums rounded at 6dp; top-20 ranked on
    # the 9dp-rounded weight with doc_id tiebreak so the prefix is
    # deterministic cross-engine
    oracle="""
    WITH tok AS (
      SELECT doc_id, source,
             CAST(('0x' || substr(md5(unnest(regexp_split_to_array(trim(text), '\\s+'))), 1, 15))
                  AS BIGINT) % 256 AS b
      FROM documents
    ),
    bucket AS (
      SELECT b,
             SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS ct,
             SUM(CASE WHEN source <> 'src0' THEN 1 ELSE 0 END) AS cs
      FROM tok GROUP BY b
    ),
    tot AS (SELECT SUM(ct) AS tt, SUM(cs) AS ts FROM bucket),
    ratio AS (
      SELECT b, ln( ((ct + 1.0) / ((SELECT tt FROM tot) + 256.0))
                  / ((cs + 1.0) / ((SELECT ts FROM tot) + 256.0)) ) AS lr
      FROM bucket
    ),
    w AS (
      SELECT t.doc_id, SUM(r.lr) AS lw
      FROM tok t JOIN ratio r USING (b)
      WHERE t.source <> 'src0'
      GROUP BY t.doc_id
    ),
    ranked AS (
      SELECT doc_id, lw, row_number() OVER (ORDER BY ROUND(lw, 9) DESC, doc_id) AS rank
      FROM w
    )
    SELECT CAST(rank AS BIGINT) AS rank, doc_id, ROUND(lw, 6) AS log_weight
    FROM ranked WHERE rank <= 20
    """,
    tags=("text", "data-selection", "llm-pipeline", "dsir"),
)
def importance_weights_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weighting for targeted data selection (Xie et
    al. 2023, "Data Selection for Language Models via Importance
    Resampling" — public method): raw-corpus docs are scored by the
    log-likelihood ratio of a TARGET distribution vs the RAW distribution
    over hashed unigram features (md5 % 256 buckets, Laplace-smoothed);
    the top-weighted docs are the ones importance resampling would keep.
    Here docs from 'src0' proxy the target corpus and all other sources
    are the raw pool; the query returns the top-20 selection.

    Scale shape: the feature space is FIXED (256 buckets), so the
    distribution estimate is one bounded groupBy; the per-doc score is a
    broadcast join of the 256-row log-ratio table onto the token stream +
    one (doc) aggregation; selection is a distributed TakeOrdered. The
    heavy raw corpus is touched by exactly one scan, one bounded agg, and
    one map-side-combined doc agg."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", "source", F.explode(word_tokens("text")).alias("token")).select(
        "doc_id", "source", F.pmod(md5_long("token"), F.lit(256)).alias("b")
    )
    is_target = F.col("source") == "src0"
    bucket = tok.groupBy("b").agg(
        F.sum(is_target.cast("long")).alias("ct"),
        F.sum((~is_target).cast("long")).alias("cs"),
    )
    tot = bucket.agg(F.sum("ct").alias("tt"), F.sum("cs").alias("ts"))
    ratio = bucket.crossJoin(F.broadcast(tot)).select(
        "b",
        F.log(
            ((F.col("ct") + 1.0) / (F.col("tt") + 256.0))
            / ((F.col("cs") + 1.0) / (F.col("ts") + 256.0))
        ).alias("lr"),
    )
    w = (
        tok.filter(~is_target)
        .join(F.broadcast(ratio), "b")
        .groupBy("doc_id")
        .agg(F.sum("lr").alias("lw"))
    )
    top = w.orderBy(F.round("lw", 9).desc(), F.col("doc_id")).limit(20)
    from pyspark.sql import Window

    rw = Window.orderBy(F.round("lw", 9).desc(), F.col("doc_id"))
    return top.withColumn("rank", F.row_number().over(rw)).select(
        F.col("rank").cast("long").alias("rank"),
        "doc_id",
        F.round("lw", 6).alias("log_weight"),
    )


@register(
    "curated_export_roundtrip",
    # the APPLY side of curation: quality gate -> exact dedup of a
    # self-unioned (re-crawled) corpus -> partitioned parquet export ->
    # rescan -> per-source checksums. The oracle computes the same funnel
    # directly; integer checksums make the roundtrip hash-exact
    oracle="""
    WITH t AS (
      SELECT doc_id, source,
             len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
             lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS norm
      FROM documents
      WHERE len(regexp_split_to_array(trim(text), '\\s+')) >= 40
    ),
    keep AS (SELECT norm, MIN(doc_id) AS doc_id FROM t GROUP BY norm)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(doc_id) AS BIGINT) AS id_checksum,
           CAST(SUM(n_tokens) AS BIGINT) AS token_sum
    FROM t JOIN keep USING (norm, doc_id)
    GROUP BY source
    """,
    tags=("text", "llm-pipeline", "io", "S9", "O7", "roundtrip"),
)
def curated_export_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The APPLY step of curation — materialize the curated corpus, the
    part every pipeline ends with but demos usually skip: quality gate →
    exact dedup (the corpus is unioned with itself to simulate a re-crawl,
    so dedup genuinely halves it, keeping the min-doc_id copy per
    normalized-text fingerprint) → `write_parquet(partition_by=source)`
    (S9 sink + O7 physical partitioning: one output directory per source,
    the layout downstream training jobs partition-prune on) → rescan →
    per-source accounting. The rescan of the partitioned layout proves the
    export is complete and readable, and integer checksums prove the
    kept-set is exactly the quality-passing canonical docs (at sf0.1 the
    corpus contains real cross-doc_id exact duplicates, so the min-doc_id
    keep rule is exercised for real, not just on the synthetic
    self-union)."""
    import uuid

    from utils_spark.io import write_parquet
    from utils_spark.operators.dedup import exact_dedup

    d = load_table(spark, sf_dir, "documents")
    recrawl = d.unionAll(d)
    passing = recrawl.filter(F.size(word_tokens("text")) >= 40)
    fp = text_fingerprint("text")
    # exact_dedup picks ONE key per fingerprint; the re-crawl's copies
    # carry the SAME doc_id, so both identical rows survive the semi-join
    # and a row-level distinct finishes the job (deterministic — the
    # surviving rows are bit-identical)
    curated = (
        exact_dedup(passing.withColumn("fp", fp), ["fp"], "doc_id")
        .select("doc_id", "source", F.size(word_tokens("text")).alias("n_tokens"))
        .distinct()
    )
    # per-invocation token; the rescan below is lazy, so no eager cleanup
    # (same discipline as csv_roundtrip_scan)
    path = f"/tmp/utils_spark_curated_export_{uuid.uuid4().hex[:12]}"
    write_parquet(curated, path, partition_by=["source"])
    back = spark.read.parquet(path)
    return back.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("doc_id").cast("long").alias("id_checksum"),
        F.sum("n_tokens").cast("long").alias("token_sum"),
    )


@register(
    "cross_doc_ngram_duplication",
    # inter-document repetition: per doc, the fraction of its distinct
    # word 8-grams that occur in at least one OTHER doc. Distinct
    # (doc, gram) pairs -> per-gram doc frequency -> join back -> per-doc
    # fraction; identical integer arithmetic and 6dp division both engines
    oracle="""
    WITH grams AS (
      SELECT DISTINCT doc_id,
             array_to_string(toks[i:i+7], ' ') AS gram
      FROM (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
        FROM documents
      ), UNNEST(range(1, GREATEST(len(toks) - 7, 0) + 1)) AS t(i)
    ),
    df AS (SELECT gram, COUNT(*) AS n_docs FROM grams GROUP BY gram),
    per_doc AS (
      SELECT g.doc_id,
             COUNT(*) AS n_grams,
             SUM(CASE WHEN df.n_docs > 1 THEN 1 ELSE 0 END) AS n_dup
      FROM grams g JOIN df USING (gram)
      GROUP BY g.doc_id
    )
    SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
           CAST(n_dup AS BIGINT) AS n_dup_grams,
           ROUND(CAST(n_dup AS DOUBLE) / n_grams, 6) AS dup_fraction
    FROM per_doc
    """,
    tags=("text", "dedup", "llm-pipeline", "repetition"),
)
def cross_doc_ngram_duplication(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-document repetition — per document, the fraction of its
    distinct word 8-grams that also appear in at least one OTHER document
    (the corpus-level duplication profile curation reports use to decide
    how aggressive near-dedup must be; within-doc repetition is the
    separate `repetition_filter`).

    Scale shape: the inverted index is built from DISTINCT (doc, gram)
    pairs (deduped within doc before the shuffle), the per-gram doc
    frequency is one gram-keyed aggregation with map-side combine, and the
    flag join back to (doc, gram) is gram-keyed — df counts, never df²
    pair enumeration (contrast `ngram_jaccard_pairs`: this query answers
    "how much of each doc is duplicated", not "which docs pair up")."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", word_tokens("text").alias("toks"))
    # sequence(a, b) DESCENDS when b < a, so short docs need an explicit
    # empty index (they then drop out of the output, matching the oracle)
    idx = F.when(
        F.size("toks") >= 8, F.sequence(F.lit(0), F.size("toks") - 8)
    ).otherwise(F.expr("array()").cast("array<int>"))
    grams = (
        toks.select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.transform(idx, lambda i: F.array_join(F.slice("toks", i + 1, 8), " "))
                )
            ).alias("gram"),
        )
    )
    df_tbl = grams.groupBy("gram").agg(F.count("*").alias("n_docs"))
    per_doc = (
        grams.join(df_tbl, "gram")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum((F.col("n_docs") > 1).cast("long")).alias("n_dup"),
        )
    )
    return per_doc.select(
        "doc_id",
        F.col("n_grams").cast("long").alias("n_grams"),
        F.col("n_dup").cast("long").alias("n_dup_grams"),
        F.round(F.col("n_dup").cast("double") / F.col("n_grams"), 6).alias("dup_fraction"),
    )


def _lm_perplexity_oracle(max_ngrams: int | None) -> str:
    """Generated bigram-LM oracle with the operator's top-K model cap
    replicated (row_number over the same count-desc/gram-asc total
    order). ``None`` -> the operator default; the forced-small-K test
    regenerates with a binding cap."""
    from utils_spark.operators.textmodel import LM_MAX_NGRAMS

    k = LM_MAX_NGRAMS if max_ngrams is None else max_ngrams
    return f"""
    WITH tok AS (
      SELECT doc_id, lang,
             list_filter(regexp_split_to_array(trim(text), '\\s+'), w -> w <> '') AS toks
      FROM documents
    ),
    ref AS (SELECT toks FROM tok WHERE lang = 'en'),
    uni_all AS (SELECT w, COUNT(*) AS c FROM (SELECT unnest(toks) AS w FROM ref) GROUP BY w),
    uni AS (
      SELECT w, c FROM (
        SELECT w, c, row_number() OVER (ORDER BY c DESC, w ASC) AS rk FROM uni_all)
      WHERE rk <= {k}
    ),
    vocab AS (SELECT CAST(COUNT(*) AS DOUBLE) AS v FROM uni),
    bi_all AS (
      SELECT bg.w1 AS w1, bg.w2 AS w2, COUNT(*) AS c
      FROM (SELECT unnest(list_transform(range(1, len(toks)),
                                         i -> struct_pack(w1 := toks[i], w2 := toks[i+1]))) AS bg
            FROM ref)
      GROUP BY 1, 2
    ),
    bi AS (
      -- nested pruning: a capped bigram survives only if its context
      -- unigram w1 survived the unigram cap (keeps the smoothing
      -- denominator's support aligned with the numerator's)
      SELECT b.w1, b.w2, b.c FROM (
        SELECT w1, w2, c, row_number() OVER (ORDER BY c DESC, w1 ASC, w2 ASC) AS rk
        FROM bi_all) b
      JOIN uni u ON u.w = b.w1
      WHERE b.rk <= {k}
    ),
    docbi AS (
      SELECT doc_id, lang, bg.w1 AS w1, bg.w2 AS w2
      FROM (SELECT doc_id, lang,
                   unnest(list_transform(range(1, len(toks)),
                                         i -> struct_pack(w1 := toks[i], w2 := toks[i+1]))) AS bg
            FROM tok)
    ),
    scored AS (
      SELECT d.doc_id, d.lang,
             ln((COALESCE(b.c, 0) + 0.5) / (COALESCE(u.c, 0) + 0.5 * v.v)) AS lp
      FROM docbi d
      LEFT JOIN bi b ON b.w1 = d.w1 AND b.w2 = d.w2
      LEFT JOIN uni u ON u.w = d.w1
      CROSS JOIN vocab v
    )
    SELECT doc_id, lang, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           ROUND(-AVG(lp), 6) AS cross_entropy,
           ROUND(exp(-AVG(lp)), 6) AS perplexity,
           CASE WHEN ROUND(-AVG(lp), 6) <= 3.43 THEN 1 ELSE 0 END AS passes_lm_filter
    FROM scored
    GROUP BY doc_id, lang
    """


@register(
    "lm_perplexity_filter",
    # CCNet-style LM quality filter: train an add-k-smoothed bigram word LM
    # on the in-domain (English) subset — model CAPPED to the top
    # LM_MAX_NGRAMS entries per order (count-cutoff pruning; bounds the
    # broadcast at any corpus size) — score EVERY document's cross-entropy
    # under it, flag low-perplexity docs. DuckDB rebuilds the identical
    # capped model (same counts, same rank cutoff, same smoothing
    # rationals, same ln) so the check is hash-exact after 6dp rounding.
    oracle=_lm_perplexity_oracle(None),
    tags=("text", "quality", "llm-pipeline", "language-model", "perplexity"),
)
def lm_perplexity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LM-perplexity quality filtering (the CCNet / GPT-3 'score against an
    in-domain language model' curation stage): train an add-0.5-smoothed
    bigram word LM on the English subset, then score every document's
    per-bigram cross-entropy  H = -avg ln P(w2 | w1)  and keep docs below
    a perplexity threshold. On this corpus the English docs genuinely score
    lower than de/es/fr/zh — the filter discriminates in-domain text.

    Scale shape: the MODEL (unigram + bigram count tables) is the output
    of two map-side-combined aggregations over the reference subset,
    CAPPED to the top LM_MAX_NGRAMS entries per order (count-cutoff
    pruning — n-gram type counts grow with the reference corpus, so the
    cap is what makes the broadcast bounded at any scale; capped-out
    bigrams hit the smoothing floor exactly like unseen ones). Corpus
    scoring is map-only (tokenize → bigram explode → two broadcast hash
    joins → per-doc agg): a 100 TB corpus is scored in one pass with no
    corpus-side shuffle except the final per-doc combine."""
    from utils_spark.operators.textmodel import bigram_lm_scores

    d = load_table(spark, sf_dir, "documents")
    scores = bigram_lm_scores(
        d, "doc_id", "text", ref=d.filter(F.col("lang") == "en"), smoothing_k=0.5
    )
    return scores.join(d.select("doc_id", "lang"), "doc_id").select(
        "doc_id",
        "lang",
        "n_bigrams",
        "cross_entropy",
        "perplexity",
        F.when(F.col("cross_entropy") <= 3.43, 1).otherwise(0).alias("passes_lm_filter"),
    )


@register(
    "bpe_merge_candidates",
    # tokenizer induction, distributed: the first BPE merge round — count
    # adjacent character pairs across the corpus weighted by word frequency
    # and emit the top-20 merge candidates. Integer counts, deterministic
    # (count desc, pair asc) tie-break in both engines → hash-exact.
    oracle="""
    WITH words AS (
      SELECT w, COUNT(*) AS n
      FROM (SELECT unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')) AS w
            FROM documents)
      GROUP BY w
    ),
    pairs AS (
      SELECT substr(w, t.i, 2) AS pair, SUM(n) AS cnt
      FROM words, UNNEST(range(1, length(w))) AS t(i)
      GROUP BY 1
    )
    SELECT pair, CAST(cnt AS BIGINT) AS pair_count
    FROM pairs ORDER BY cnt DESC, pair LIMIT 20
    """,
    tags=("text", "tokenizer", "llm-pipeline", "bpe"),
)
def bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer vocabulary induction — the counting round at the heart of
    BPE training: tally every adjacent character pair over the corpus,
    weighted by word occurrence count, and rank the top merge candidates
    (the pair a BPE trainer would merge first, then re-count).

    Scale shape: the corpus collapses to its WORD FREQUENCY TABLE first
    (one map-side-combined aggregation — the classic BPE-trainer trick:
    pair counting is then O(vocab × word-length), independent of corpus
    size), pair tallies are a second bounded aggregation (≤ alphabet²
    keys), and the global top-k is TakeOrdered (per-partition top-k then a
    driver merge of k-sized heads — no single-task full sort). A 100 TB
    corpus pays one token-keyed shuffle bounded by vocabulary, nothing
    pairwise."""
    from utils_spark.operators.textmodel import bpe_pair_counts

    d = load_table(spark, sf_dir, "documents")
    tallies = bpe_pair_counts(d, "text")
    return tallies.orderBy(F.desc("pair_count"), F.asc("pair")).limit(20)


def _bpe_cte_parts(n_rounds: int, mode: str = "bpe") -> str:
    """Shared WITH-clause body for the BPE oracles (training + apply):
    words0..words{n} CTEs replaying every merge round. Tokens live in a
    chr(31)-sentinel string ("\\x1ft1\\x1ft2\\x1f"); the merge is a TRUE
    left fold (DuckDB ``list_reduce`` over the token list): append ``r``
    to the accumulator when the accumulator's final token is exactly
    ``l`` (suffix test on the sentinel join — tokens cannot contain the
    sentinel, so ``ends_with(acc, chr(31)||l)`` identifies the final
    token precisely) and the next token is ``r``; otherwise append the
    token with a fresh sentinel. That fold IS greedy non-overlapping
    left-to-right merging: a token produced by the round's merge is
    ``l||r``, which can never equal ``l`` again (``r`` is non-empty), so
    the fold can never re-merge within the pass. It remains an
    INDEPENDENT formulation from the Spark side's array fold (different
    engine, different accumulator representation), so hash agreement
    still checks the algebra of both. (Round-7 fix: the previous
    sentinel double-``replace()`` was NOT greedy for runs of >=5
    identical tokens when l == r — 'aaaaa' gave [aa,a,aa] instead of
    the greedy [aa,aa,a]; per-round ADVICE r6, pinned by
    test_bpe_oracle_merge_identical_token_runs.)"""
    parts = [
        """
    WITH words0 AS MATERIALIZED (
      SELECT chr(31) || array_to_string(list_transform(range(1, length(w) + 1),
                                                       i -> substr(w, i, 1)), chr(31))
             || chr(31) AS s,
             COUNT(*) AS n
      FROM (SELECT unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                      x -> x <> '')) AS w
            FROM documents)
      WHERE w NOT LIKE '%' || chr(31) || '%'
      GROUP BY 1
    )"""
    ]
    for r in range(1, n_rounds + 1):
        prev = r - 1
        if mode == "wordpiece":
            # WordPiece argmax: likelihood score cnt/(count(l)*count(r)) —
            # exact BIGINTs divided in double, identical in both engines
            best_cte = f"""
    uni{r} AS (
      SELECT tok, CAST(SUM(n) AS BIGINT) AS c
      FROM (SELECT n, unnest(list_filter(string_split(s, chr(31)), x -> x <> '')) AS tok
            FROM words{prev})
      GROUP BY tok
    ),
    best{r} AS (
      SELECT p.left_tok, p.right_tok, p.cnt, ul.c AS left_cnt, ur.c AS right_cnt
      FROM pairs{r} p
      JOIN uni{r} ul ON ul.tok = p.left_tok
      JOIN uni{r} ur ON ur.tok = p.right_tok
      ORDER BY CAST(p.cnt AS DOUBLE) / (ul.c * ur.c) DESC,
               p.left_tok ASC, p.right_tok ASC LIMIT 1
    ),"""
        else:
            best_cte = f"""
    best{r} AS (
      SELECT left_tok, right_tok, cnt FROM pairs{r}
      ORDER BY cnt DESC, left_tok ASC, right_tok ASC LIMIT 1
    ),"""
        parts.append(f"""
    pairs{r} AS (
      SELECT p.t[1] AS left_tok, p.t[2] AS right_tok, CAST(SUM(n) AS BIGINT) AS cnt
      FROM (SELECT n,
                   unnest(list_transform(range(1, len(toks)),
                                         i -> struct_pack(t := [toks[i], toks[i+1]])))
                     AS p
            FROM (SELECT list_filter(string_split(s, chr(31)), x -> x <> '') AS toks, n
                  FROM words{prev}))
      GROUP BY 1, 2
    ),{best_cte}
    words{r} AS MATERIALIZED (
      SELECT chr(31) || list_reduce(
               list_filter(string_split(w.s, chr(31)), x -> x <> ''),
               (acc, x) -> CASE WHEN x = b.right_tok
                                 AND (acc = b.left_tok
                                      OR ends_with(acc, chr(31) || b.left_tok))
                           THEN acc || x
                           ELSE acc || chr(31) || x END
             ) || chr(31) AS s,
             w.n
      FROM words{prev} w CROSS JOIN best{r} b
    )""")
    return ",".join(parts)


def _bpe_train_oracle(n_rounds: int) -> str:
    """Generated N-step SQL twin of ``bpe_train``: the shared round CTEs
    plus the union of each round's argmax merge row."""
    selects = "\n    UNION ALL\n    ".join(
        f"SELECT {r} AS merge_round, left_tok, right_tok, cnt AS pair_count FROM best{r}"
        for r in range(1, n_rounds + 1)
    )
    return _bpe_cte_parts(n_rounds) + "\n    " + selects


def _wordpiece_train_oracle(n_rounds: int) -> str:
    """Generated N-step SQL twin of ``wordpiece_train``: the shared round
    CTEs in likelihood-score mode plus the union of each round's argmax
    merge row with its constituent unigram counts."""
    selects = "\n    UNION ALL\n    ".join(
        f"SELECT {r} AS merge_round, left_tok, right_tok, cnt AS pair_count, "
        f"left_cnt AS left_count, right_cnt AS right_count FROM best{r}"
        for r in range(1, n_rounds + 1)
    )
    return _bpe_cte_parts(n_rounds, mode="wordpiece") + "\n    " + selects


@register(
    "bpe_training_rounds",
    # FULL iterative BPE tokenizer training (8 merge rounds): each round
    # re-counts adjacent pairs over the merged vocab and applies the
    # argmax merge. Deterministic tie-break -> hash-exact merge tables.
    oracle=_bpe_train_oracle(8),
    tags=("text", "tokenizer", "llm-pipeline", "bpe", "iterative"),
)
def bpe_training_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end BPE tokenizer induction, distributed (Sennrich et al.
    2016): 8 full merge rounds — count adjacent token pairs over the
    corpus word-frequency table, merge the argmax pair into every word's
    token sequence (JVM-side array fold), re-count. Emits the learned
    merge table, the artifact a tokenizer ships (contrast
    `bpe_merge_candidates`, which is only the first counting round).

    Scale shape: one corpus-sized shuffle builds the word-frequency
    table; every round after is O(vocab × word-length) independent of
    corpus size — a bounded pair aggregation plus a 1-row argmax collect,
    vocab lineage cut per round. The oracle replays all 8 rounds in
    generated SQL with an independent merge formulation (sentinel-string
    double-replace vs array fold)."""
    from utils_spark.operators.textmodel import bpe_train

    d = load_table(spark, sf_dir, "documents")
    return bpe_train(d, "text", n_merges=8)


@register(
    "wordpiece_training_rounds",
    # FULL iterative WordPiece training (8 merge rounds): same round
    # structure as BPE but the argmax criterion is the likelihood score
    # cnt/(count(l)*count(r)) — the algorithmic difference between the
    # two trainers. Integer-only output; deterministic tie-break.
    oracle=_wordpiece_train_oracle(8),
    tags=("text", "tokenizer", "llm-pipeline", "wordpiece", "iterative"),
)
def wordpiece_training_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end WordPiece tokenizer induction, distributed (Schuster &
    Nakajima, ICASSP 2012 — the BERT tokenizer's trainer): 8 rounds of
    count pairs + unigrams -> argmax LIKELIHOOD score count(l,r) /
    (count(l)*count(r)) -> greedy merge. Third tokenizer family beside
    BPE (`bpe_training_rounds`, frequency argmax) and unigram-LM
    (`unigram_lm_tokenizer`, Viterbi-EM pruning); the emitted merge
    table carries the constituent unigram counts so the score is
    derivable without hashing floats.

    Scale shape: identical to BPE training — one corpus-sized shuffle to
    the word-frequency table, then each round is O(vocab x word-length)
    independent of corpus size (bounded pair + unigram aggregations, a
    vocab-bounded 3-way join, a 1-row argmax collect; lineage cut per
    round). The oracle replays all 8 rounds in generated SQL with the
    likelihood-mode argmax and the true-fold greedy merge."""
    from utils_spark.operators.textmodel import wordpiece_train

    d = load_table(spark, sf_dir, "documents")
    return wordpiece_train(d, "text", n_merges=8)


@register(
    "bpe_encoding_apply",
    # the APPLY side of tokenizer induction: encode the corpus with the
    # trained 8-round merge table via the word->tokens vocabulary
    # dictionary (broadcast join, map-only scoring — the production
    # encode shape). Per-source exact token accounting + a word-level
    # encoding checksum make any mis-merge hash-visible.
    oracle=_bpe_cte_parts(8)
    + """,
    vocab AS (
      SELECT replace(s, chr(31), '') AS w,
             array_to_string(list_filter(string_split(s, chr(31)), x -> x <> ''), ' ')
               AS tok_str,
             len(list_filter(string_split(s, chr(31)), x -> x <> '')) AS ntok
      FROM words8
    ),
    docw AS (
      SELECT doc_id, source,
             unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                x -> x <> '')) AS w
      FROM documents
    ),
    enc AS (
      SELECT d.doc_id, d.source, v.ntok,
             CAST(('0x' || substr(md5(d.w || '|' || v.tok_str), 1, 15)) AS BIGINT)
               % 1073741824 AS h
      FROM docw d JOIN vocab v USING (w)
      WHERE d.w NOT LIKE '%' || chr(31) || '%'
    )
    SELECT source,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(ntok) AS BIGINT) AS n_tokens,
           CAST(SUM(h) AS BIGINT) AS checksum
    FROM enc GROUP BY source
    """,
    tags=("text", "tokenizer", "llm-pipeline", "bpe", "apply-side"),
)
def bpe_encoding_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus encoding with a trained BPE tokenizer — the apply side that
    actually tokenizes training data at scale: train 8 merge rounds
    (`bpe_training_rounds`), collect the MERGE TABLE (n_merges rows — the
    artifact a BPE tokenizer actually ships), then encode every word
    occurrence MAP-ONLY by chaining one greedy merge fold per rule
    (`bpe_encode_expr`). Identical output to joining the trainer's final
    word→tokens dictionary — that dictionary IS the fold chain applied to
    the word table — but without broadcasting a corpus-derived
    distinct-word table, whose cardinality grows with corpus size
    (Heaps' law) and is a driver/executor OOM at 100 TB. Emits per-source
    exact token accounting plus a word-level checksum over
    (word, encoding) pairs, so a single mis-merged word anywhere in the
    corpus flips the hash.

    Scale shape: training costs are `bpe_train`'s (vocab-bounded rounds);
    encoding is one explode + a broadcast left join against the TOP-K
    head-word dictionary (explicit Limit — bounded at any corpus size;
    Zipf's law puts most occurrences in the head, and the fold chain runs
    once per head WORD, not per occurrence) with the per-row fold chain
    as a coalesce fallback for tail occurrences — map-only end to end,
    no corpus-cardinality broadcast. The oracle replays the full 8-round
    training AND the encoding in generated SQL with the independent
    double-replace merge formulation."""
    from utils_spark.operators.textmodel import (
        TOKENIZER_APPLY_TOPK,
        _word_symbol_table,
        bpe_encode_expr,
        bpe_train,
    )

    d = load_table(spark, sf_dir, "documents")
    merges_df = bpe_train(d, "text", n_merges=8)
    # bounded driver-scalar state: <= n_merges rows, like the trainer's argmax
    merges = [
        (r.left_tok, r.right_tok) for r in merges_df.orderBy("merge_round").collect()
    ]
    head = (
        _word_symbol_table(d, "text")
        .orderBy(F.desc("n"), F.asc("w"))
        .limit(TOKENIZER_APPLY_TOPK)
        .select("w", bpe_encode_expr(F.col("w"), merges).alias("toks"))
    )
    docw = d.select(
        "doc_id", "source", F.explode(word_tokens("text")).alias("w")
    ).filter(~F.col("w").contains("\x1f"))
    enc = docw.join(F.broadcast(head), "w", "left").select(
        "doc_id",
        "source",
        # Coalesce evaluates lazily: the fold chain runs only for tail
        # occurrences that missed the head dictionary
        F.coalesce(F.col("toks"), bpe_encode_expr(F.col("w"), merges)).alias("toks"),
        "w",
    ).select(
        "doc_id",
        "source",
        F.size("toks").alias("ntok"),
        F.pmod(
            md5_long(F.concat_ws("|", F.col("w"), F.concat_ws(" ", F.col("toks")))),
            F.lit(1073741824),
        ).alias("h"),
    )
    return enc.groupBy("source").agg(
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
        F.count("*").cast("long").alias("n_words"),
        F.sum("ntok").cast("long").alias("n_tokens"),
        F.sum("h").cast("long").alias("checksum"),
    )


def _unigram_cte_parts(apply_pass: bool = False) -> str:
    """Generated WITH-clause body shared by the unigram oracles: seed
    vocabulary, then per EM round a 12-position unrolled Viterbi (forward
    dp/backptr CTEs, backward on-path CTEs) and the piece-count M-step;
    with ``apply_pass`` one extra Viterbi chain under the FINAL piece
    table ending in a per-word ordered token list (``wordtok``). Segment
    CTEs are MATERIALIZED so DuckDB never inlines the recurrence into an
    exponential expression tree. Constants imported from the operator so
    the two can't drift."""
    from utils_spark.operators.textmodel import (
        UNIGRAM_FLOOR,
        UNIGRAM_MAXLEN,
        UNIGRAM_MAXP,
        UNIGRAM_N_MULTI,
        UNIGRAM_ROUNDS,
    )

    L, P = UNIGRAM_MAXLEN, UNIGRAM_MAXP
    NEG = "-1000000000.0"
    parts = [f"""
    WITH words AS (
      SELECT w, COUNT(*) AS n FROM (
        SELECT unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                  x -> x <> '')) AS w
        FROM documents)
      WHERE length(w) <= {L}
      GROUP BY w
    ),
    singles AS (
      SELECT substr(w, i, 1) AS piece, SUM(n) AS cnt
      FROM words, (SELECT unnest(range(1, {L + 1})) AS i) ii
      WHERE i <= length(w)
      GROUP BY 1
    ),
    multi AS (
      SELECT substr(w, i - k + 1, k) AS piece, SUM(n) AS cnt
      FROM words,
           (SELECT unnest(range(2, {P + 1})) AS k) kk,
           (SELECT unnest(range(2, {L + 1})) AS i) ii
      WHERE i >= k AND i <= length(w)
      GROUP BY 1
    ),
    multi_top AS (SELECT piece, cnt FROM multi ORDER BY cnt DESC, piece ASC LIMIT {UNIGRAM_N_MULTI}),
    nxt0 AS (SELECT * FROM singles UNION ALL SELECT * FROM multi_top),
    tot0 AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS t FROM nxt0),
    vocab0 AS (
      SELECT piece, cnt, ROUND(ln(cnt / t), 6) AS logp FROM nxt0 CROSS JOIN tot0
    )"""]
    def seg_chain(r: int, src_vocab: str) -> list[str]:
        """Append the unrolled Viterbi CTE chain seg{r}_0..seg{r}_on1 under
        the ``src_vocab`` piece table; returns the ordered piece CASEs."""
        parts.append(f"""
    m{r} AS (
      SELECT map(list(piece ORDER BY piece), list(logp ORDER BY piece)) AS mp
      FROM {src_vocab}
    ),
    seg{r}_0 AS MATERIALIZED (
      SELECT w.w, w.n, m.mp, CAST(0.0 AS DOUBLE) AS dp_0 FROM words w CROSS JOIN m{r} m
    )""")
        for i in range(1, L + 1):
            cands = []
            for k in range(1, min(P, i) + 1):
                lookup = f"mp[substr(w, {i - k + 1}, {k})][1]"
                cands.append(
                    f"CASE WHEN length(w) >= {i} THEN COALESCE(dp_{i - k} + {lookup}, {NEG}) ELSE {NEG} END"
                )
            dp = f"GREATEST({', '.join(cands)})" if len(cands) > 1 else cands[0]
            kcase = " ".join(
                f"WHEN ({cands[k - 1]}) = ({dp}) THEN {k}" for k in range(1, len(cands) + 1)
            )
            parts.append(f"""
    seg{r}_{i} AS MATERIALIZED (
      SELECT *, {dp} AS dp_{i}, CASE {kcase} ELSE 1 END AS k_{i} FROM seg{r}_{i - 1}
    )""")
        for i in range(L, 0, -1):
            ors = [f"length(w) = {i}"]
            for k in range(1, P + 1):
                if i + k <= L:
                    ors.append(f"(on_{i + k} AND k_{i + k} = {k})")
            src = f"seg{r}_{L}" if i == L else f"seg{r}_on{i + 1}"
            parts.append(f"""
    seg{r}_on{i} AS MATERIALIZED (
      SELECT *, ({' OR '.join(ors)}) AS on_{i} FROM {src}
    )""")
        piece_cases = []
        for i in range(1, L + 1):
            sub = " ".join(
                f"WHEN {k} THEN substr(w, {i - k + 1}, {k})"
                for k in range(1, min(P, i) + 1)
            )
            piece_cases.append(
                f"CASE WHEN length(w) >= {i} AND on_{i} THEN CASE k_{i} {sub} END END"
            )
        return piece_cases

    for r in range(1, UNIGRAM_ROUNDS + 1):
        piece_cases = seg_chain(r, f"vocab{r - 1}")
        parts.append(f"""
    cnt{r} AS (
      SELECT piece, SUM(n) AS cnt FROM (
        SELECT n, unnest(list_filter([{', '.join(piece_cases)}],
                                     x -> x IS NOT NULL)) AS piece
        FROM seg{r}_on1)
      GROUP BY piece
    ),
    nxt{r} AS (
      SELECT s.piece, COALESCE(c.cnt, 0) AS cnt
      FROM (SELECT piece FROM vocab0 WHERE length(piece) = 1) s
           LEFT JOIN cnt{r} c USING (piece)
      UNION ALL
      SELECT piece, cnt FROM cnt{r} WHERE length(piece) >= 2
    ),
    tot{r} AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS t FROM nxt{r}),
    vocab{r} AS (
      SELECT piece, cnt,
             CASE WHEN cnt > 0 THEN ROUND(ln(cnt / t), 6) ELSE {UNIGRAM_FLOOR} END AS logp
      FROM nxt{r} CROSS JOIN tot{r}
    )""")
    if apply_pass:
        piece_cases = seg_chain(UNIGRAM_ROUNDS + 1, f"vocab{UNIGRAM_ROUNDS}")
        parts.append(f"""
    wordtok AS (
      SELECT w, list_filter([{', '.join(piece_cases)}], x -> x IS NOT NULL) AS toks
      FROM seg{UNIGRAM_ROUNDS + 1}_on1
    )""")
    return ",".join(parts)


def _unigram_oracle() -> str:
    """SQL twin of ``textmodel.unigram_train``: replay the full trainer,
    emit the final piece table."""
    from utils_spark.operators.textmodel import UNIGRAM_ROUNDS

    return (
        _unigram_cte_parts()
        + f"""
    SELECT piece, CAST(cnt AS BIGINT) AS piece_count, logp AS score
    FROM vocab{UNIGRAM_ROUNDS}"""
    )


@register(
    "unigram_lm_tokenizer",
    # Unigram-LM (SentencePiece-default) tokenizer training, hard-EM
    # variant (VERDICT r6 item 5): substring-frequency seed vocabulary ->
    # 2 Viterbi-EM rounds (segment under current piece log-probs,
    # re-estimate + prune) -> final piece table. The oracle replays the
    # ENTIRE trainer — seed, both unrolled Viterbi DPs, both M-steps —
    # in generated SQL.
    oracle=_unigram_oracle(),
    tags=("text", "tokenizer", "llm-pipeline", "unigram", "iterative"),
)
def unigram_lm_tokenizer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM tokenizer training over the documents corpus (Kudo
    2018 — SentencePiece's default model; the OTHER tokenizer family a
    training-data pipeline ships besides BPE). See
    ``textmodel.unigram_train`` for the algorithm, simplifications
    (hard/Viterbi EM, frequency seeding) and the 100 TB shape: one
    corpus-sized shuffle to the word-frequency table, then every EM
    round is vocab-bounded — a broadcast 1-row piece map, ~90 chained
    JVM column expressions for the unrolled Viterbi, one bounded piece
    aggregation. Unit-tested against a pure-Python Viterbi-EM reference
    (tests/test_operators.py::test_unigram_train_matches_reference)."""
    from utils_spark.operators.textmodel import unigram_train

    d = load_table(spark, sf_dir, "documents")
    return unigram_train(d, "text")


@register(
    "unigram_encoding_apply",
    # the APPLY side of unigram tokenizer induction: top-K head-word
    # dictionary (explicit Limit -> bounded broadcast at any corpus
    # size) + inline per-occurrence Viterbi fallback for tail words
    # under the bounded piece table — both paths segment under the same
    # final pieces, so results equal the full-dictionary join without
    # ever broadcasting a Heaps'-law-unbounded word table. Per-source
    # exact token accounting + a word-level (word, encoding) checksum
    # make any mis-segmentation hash-visible. The oracle replays
    # training AND the apply pass.
    oracle=_unigram_cte_parts(apply_pass=True)
    + """,
    vocabw AS (
      SELECT w, array_to_string(toks, ' ') AS tok_str, len(toks) AS ntok FROM wordtok
    ),
    docw AS (
      SELECT doc_id, source,
             unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                x -> x <> '')) AS w
      FROM documents
    ),
    enc AS (
      SELECT d.doc_id, d.source, v.ntok,
             CAST(('0x' || substr(md5(d.w || '|' || v.tok_str), 1, 15)) AS BIGINT)
               % 1073741824 AS h
      FROM docw d JOIN vocabw v USING (w)
    )
    SELECT source,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(ntok) AS BIGINT) AS n_tokens,
           CAST(SUM(h) AS BIGINT) AS checksum
    FROM enc GROUP BY source
    """,
    tags=("text", "tokenizer", "llm-pipeline", "unigram", "apply-side"),
)
def unigram_encoding_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus encoding with a trained unigram-LM tokenizer — the
    SentencePiece-family twin of `bpe_encoding_apply`: train 2 Viterbi-EM
    rounds (`unigram_lm_tokenizer`), then encode with the Zipf-shaped
    two-path apply: the TOP-K most frequent words' segmentations
    (TOKENIZER_APPLY_TOPK rows — an explicit Limit, bounded at any corpus
    size) broadcast as a head dictionary covering the vast majority of
    occurrences, and TAIL words run the same Viterbi DP inline per
    occurrence under the broadcast piece table (bounded: singles + 60
    multi pieces). Both paths segment under the identical final piece
    table, so the split point cannot change results — unlike broadcasting
    the FULL corpus-derived word dictionary, whose distinct-word
    cardinality grows with corpus size (Heaps' law) and OOMs at 100 TB.
    Words above the trainable length bound are excluded from the
    accounting (both engines identically). Emits per-source token
    accounting plus a word-level checksum over (word, encoding) pairs."""
    from utils_spark.operators.textmodel import (
        TOKENIZER_APPLY_TOPK,
        UNIGRAM_MAXLEN,
        _unigram_words,
        _viterbi_chain,
        _viterbi_segment_words,
        unigram_train,
    )

    from utils_spark.plans import cut_lineage

    d = load_table(spark, sf_dir, "documents")
    # cut the EM-round lineage off the final piece table before embedding
    # it in TWO further Viterbi chains (head dict + tail fallback) — the
    # same flat-plan discipline the trainer applies per round
    pieces = cut_lineage(unigram_train(d, "text"))
    vocabp = pieces.select("piece", F.col("score").alias("logp"))
    # head dictionary: top-K words by corpus frequency (n desc, w asc is a
    # total order -> deterministic TakeOrderedAndProject, bounded broadcast)
    topk_words = (
        _unigram_words(d, "text")
        .orderBy(F.desc("n"), F.asc("w"))
        .limit(TOKENIZER_APPLY_TOPK)
    )
    # cut_lineage materializes the bounded head dict: without it, the
    # hits/miss filters above the left join are pushed INTO the build
    # side and alias-substituted through the dict's ~90-projection
    # Viterbi chain — the exponential trimAliases blowup documented in
    # _viterbi_chain (observed: driver heap OOM in
    # PushPredicateThroughNonJoin.trimAliases on this exact shape)
    wdict = cut_lineage(
        _viterbi_segment_words(topk_words, vocabp).select("w", "toks")
    )
    docw = d.select(
        "doc_id", "source", F.explode(word_tokens("text")).alias("w")
    ).filter(F.length("w") <= UNIGRAM_MAXLEN)
    joined = docw.join(F.broadcast(wdict), "w", "left")
    hits = joined.filter(F.col("toks").isNotNull()).select(
        "doc_id", "source", "w", "toks"
    )
    miss = joined.filter(F.col("toks").isNull()).select("doc_id", "source", "w")
    cur, piece_at = _viterbi_chain(miss, vocabp)
    miss_enc = cur.select(
        "doc_id",
        "source",
        "w",
        F.filter(F.array(*piece_at), lambda x: x.isNotNull()).alias("toks"),
    )
    enc = hits.unionByName(miss_enc).select(
        "doc_id",
        "source",
        F.size("toks").alias("ntok"),
        F.pmod(
            md5_long(F.concat_ws("|", F.col("w"), F.concat_ws(" ", F.col("toks")))),
            F.lit(1073741824),
        ).alias("h"),
    )
    return enc.groupBy("source").agg(
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
        F.count("*").cast("long").alias("n_words"),
        F.sum("ntok").cast("long").alias("n_tokens"),
        F.sum("h").cast("long").alias("checksum"),
    )


@register(
    "corpus_datasheet",
    # the per-source corpus "datasheet" a curation run reports: volume,
    # token counts, language spread, exact-dup rate, heuristic quality
    # pass rate — one bounded aggregation, integer/6dp-exact both engines
    oracle="""
    WITH t AS (
      SELECT doc_id, source, lang, text,
             len(list_filter(regexp_split_to_array(trim(text), '\\s+'), w -> w <> '')) AS n_toks,
             len(list_distinct(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                           w -> w <> ''))) AS n_distinct
      FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
           ROUND(AVG(CAST(n_toks AS DOUBLE)), 6) AS avg_tokens,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS BIGINT) AS n_exact_dups,
           ROUND(AVG(CASE WHEN n_toks BETWEEN 10 AND 1000
                           AND CAST(n_distinct AS DOUBLE) / n_toks > 0.2
                     THEN 1.0 ELSE 0.0 END), 6) AS quality_pass_rate
    FROM t GROUP BY source
    """,
    tags=("text", "reporting", "llm-pipeline", "datasheet"),
)
def corpus_datasheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus datasheet — the summary table a curation run
    publishes alongside the data: document/token volume, language spread,
    exact-duplicate rate, and the heuristic quality pass rate (the
    `quality_score` gate aggregated). One pass over the corpus: all
    per-doc fields are map-side array expressions; the only shuffle is the
    per-source aggregation (count-distincts of lang and fingerprint are
    partial-aggregated; at 100 TB swap `approx_count_distinct` per the
    documented scale path)."""
    d = load_table(spark, sf_dir, "documents")
    toks = word_tokens("text")
    t = d.select(
        "source",
        "lang",
        "text",
        F.size(toks).alias("n_toks"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
    )
    quality = (
        F.col("n_toks").between(10, 1000)
        & (F.col("n_distinct").cast("double") / F.col("n_toks") > 0.2)
    ).cast("double")
    return t.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_toks").cast("long").alias("n_tokens"),
        F.round(F.avg(F.col("n_toks").cast("double")), 6).alias("avg_tokens"),
        F.countDistinct("lang").alias("n_langs"),
        (F.count("*") - F.countDistinct(F.md5("text"))).cast("long").alias("n_exact_dups"),
        F.round(F.avg(quality), 6).alias("quality_pass_rate"),
    )


@register(
    "line_level_dedup",
    # RefinedWeb-style line-level corpus dedup: strip any LINE that occurs
    # in more than 10 documents (data-driven boilerplate removal — no
    # regex rules). Documents are single-line in the fixture, so two
    # deterministic boilerplate lines are planted (a per-source footer and
    # a global newsletter CTA on even ids); the cleaned text is md5'd per
    # doc so the strip + order-preserving rebuild is byte-exact.
    oracle="""
    WITH built AS (
      SELECT doc_id, source,
             list_value(text, 'FOOTER :: ' || source)
             || CASE WHEN doc_id % 2 = 0
                     THEN ['Subscribe to our newsletter for updates!'] ELSE [] END AS lines
      FROM documents
    ),
    lined AS (
      SELECT doc_id, source, t.p.pos AS pos, t.p.line AS line
      FROM (SELECT doc_id, source,
                   unnest(list_transform(range(1, len(lines) + 1),
                                         i -> struct_pack(pos := i, line := lines[i]))) AS p
            FROM built) t(doc_id, source, p)
    ),
    df AS (SELECT line, COUNT(DISTINCT doc_id) AS n_docs FROM lined GROUP BY line),
    kept AS (
      SELECT l.doc_id, l.source, l.pos, l.line, df.n_docs
      FROM lined l JOIN df USING (line)
    )
    SELECT doc_id, ANY_VALUE(source) AS source,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CASE WHEN n_docs <= 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           md5(string_agg(CASE WHEN n_docs <= 10 THEN line END, chr(10) ORDER BY pos))
             AS cleaned_md5
    FROM kept GROUP BY doc_id
    """,
    tags=("text", "dedup", "llm-pipeline", "boilerplate", "line-level"),
)
def line_level_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-level corpus deduplication (the RefinedWeb/Falcon recipe):
    split every document into lines, count each distinct line's document
    frequency across the WHOLE corpus, and strip lines appearing in more
    than 10 documents — boilerplate discovered from the data itself
    (contrast `boilerplate_strip`, which applies fixed rules, and
    `cross_doc_ngram_duplication`, which only profiles). The fixture's
    docs are single-line, so a per-source footer and a global CTA line are
    planted; the md5 of each rebuilt document certifies both the strip
    decision and the order-preserving reconstruction byte-for-byte. (At
    sf0.001 the per-source footers fall under the df threshold and are
    correctly KEPT — the threshold is corpus-relative evidence, which is
    the point of the technique.)

    Scale shape: the line df table is one line-keyed aggregation with
    map-side combine (bounded by distinct lines); the strip decision joins
    back on the same key — at 100 TB the df table can also be broadcast
    after a `HAVING n_docs > k` filter, since only frequent lines matter.
    The rebuild groups by doc with an in-group array_sort, never a global
    sort."""
    from utils_spark.operators.dedup import strip_frequent_lines

    d = load_table(spark, sf_dir, "documents")
    built = d.select(
        "doc_id",
        "source",
        F.array_join(
            F.concat(
                F.array(F.col("text"), F.concat(F.lit("FOOTER :: "), F.col("source"))),
                F.when(
                    F.col("doc_id") % 2 == 0,
                    F.array(F.lit("Subscribe to our newsletter for updates!")),
                ).otherwise(F.expr("array()").cast("array<string>")),
            ),
            "\n",
        ).alias("text"),
    )
    cleaned = strip_frequent_lines(built, "doc_id", "text", max_df=10)
    return cleaned.join(built.select("doc_id", "source"), "doc_id").select(
        "doc_id",
        "source",
        "n_lines",
        "n_kept",
        F.md5("cleaned_text").alias("cleaned_md5"),
    )


@register(
    "exact_substring_dedup",
    # suffix-array-style exact-substring dedup (Lee et al. 2021):
    # 30-token overlapping window fingerprints; a doc sharing ANY window
    # with an earlier doc contains a verbatim >=30-token substring and is
    # dropped (min-id keep). Planted partial copies (a 35-token slice of
    # every 13th doc wrapped in fresh text) force the partial-overlap
    # path on top of the fixture's natural exact duplicates.
    oracle="""
    WITH toks AS (
      SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                 x -> x <> '') AS t
      FROM documents
    ),
    corpus AS (
      SELECT doc_id, t FROM toks
      UNION ALL
      SELECT doc_id + 10000000 AS doc_id,
             ['planted', 'header', CAST(doc_id AS VARCHAR)] || t[6:40]
               || ['planted', 'footer'] AS t
      FROM toks WHERE doc_id % 13 = 0 AND len(t) >= 40
    ),
    wins AS (
      SELECT doc_id,
             list_transform(range(1, GREATEST(len(t) - 29, 0) + 1),
                            i -> md5(array_to_string(t[i:i+29], ' '))) AS wins
      FROM corpus
    ),
    exploded AS (SELECT doc_id, unnest(wins) AS wh FROM wins),
    owner AS (SELECT wh, MIN(doc_id) AS owner FROM exploded GROUP BY wh),
    verdict AS (
      SELECT e.doc_id,
             COUNT(*) AS n_windows,
             SUM(CASE WHEN o.owner < e.doc_id THEN 1 ELSE 0 END) AS n_dup_windows
      FROM exploded e JOIN owner o USING (wh) GROUP BY e.doc_id
    )
    SELECT w.doc_id,
           CAST(COALESCE(v.n_windows, 0) AS BIGINT) AS n_windows,
           CAST(COALESCE(v.n_dup_windows, 0) AS BIGINT) AS n_dup_windows,
           COALESCE(v.n_dup_windows, 0) = 0 AS keep
    FROM wins w LEFT JOIN verdict v USING (doc_id)
    """,
    tags=("text", "dedup", "llm-pipeline", "substring", "suffix-array"),
)
def exact_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring deduplication — the last dedup family from the
    published taxonomy (doc-level, near-dup, semantic, line-level,
    incremental already exist): the distributed analog of the
    suffix-array dedup in Lee et al. 2021, via overlapping 30-token
    window fingerprints. A document sharing any window with an earlier
    document contains a >=30-token verbatim substring and is flagged
    (min-id keep). The fixture's natural exact duplicates share ALL
    windows; planted partial copies — a 35-token mid-document slice of
    every 13th doc embedded in fresh header/footer text — exercise the
    substring (not whole-doc) path: the copy shares exactly 6 windows
    with its source and is flagged while its unique wrapper text is not
    enough to save it.

    Scale shape: window hashing is map-only (slice + md5, no Python);
    ownership is one window-hash-keyed aggregation joined back on the
    same hash; the verdict is one doc-keyed aggregation. Never doc×doc
    — the window hash plays the suffix array's repeat-finding role with
    only (hash, key) shuffles. See
    tests/test_plans.py::test_exact_substring_dedup_window_keyed."""
    from utils_spark.operators.dedup import substring_window_duplicates

    d = load_table(spark, sf_dir, "documents")
    toks = word_tokens("text")
    planted = (
        d.filter((F.col("doc_id") % 13 == 0) & (F.size(toks) >= 40))
        .select(
            (F.col("doc_id") + 10000000).alias("doc_id"),
            F.concat_ws(
                " ",
                F.lit("planted"),
                F.lit("header"),
                F.col("doc_id").cast("string"),
                F.concat_ws(" ", F.slice(toks, 6, 35)),
                F.lit("planted"),
                F.lit("footer"),
            ).alias("text"),
        )
    )
    corpus = d.select("doc_id", "text").unionByName(planted)
    return substring_window_duplicates(corpus, "text", "doc_id", window_tokens=30)


@register(
    "incremental_dedup_batch",
    # the INCREMENTAL dedup mode of a production pipeline: a new crawl
    # batch (fresh docs + a simulated re-crawl of history + planted
    # within-batch copies) is deduped against the EXISTING corpus's
    # fingerprint index — never re-fingerprinting history. Exact integer
    # accounting per source; both engines compute identical md5
    # fingerprints over identically normalized text.
    oracle="""
    WITH f AS (
      SELECT doc_id, source,
             md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp
      FROM documents
    ),
    hist AS (SELECT DISTINCT fp FROM f WHERE doc_id % 5 <> 0),
    batch AS (
      SELECT doc_id, source, fp FROM f WHERE doc_id % 5 = 0
      UNION ALL
      SELECT doc_id + 10000000, source, fp FROM f WHERE doc_id % 5 <> 0 AND doc_id % 7 = 0
      UNION ALL
      SELECT doc_id + 20000000, source, fp FROM f WHERE doc_id % 5 = 0 AND doc_id % 3 = 0
    ),
    flagged AS (
      SELECT b.doc_id, b.source, b.fp,
             CASE WHEN h.fp IS NOT NULL THEN 1 ELSE 0 END AS dup_hist
      FROM batch b LEFT JOIN hist h ON b.fp = h.fp
    ),
    ranked AS (
      SELECT *, CASE WHEN dup_hist = 0 THEN
                  row_number() OVER (PARTITION BY fp, dup_hist ORDER BY doc_id)
                ELSE NULL END AS rn
      FROM flagged
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_new,
           CAST(SUM(dup_hist) AS BIGINT) AS n_dup_vs_history,
           CAST(SUM(CASE WHEN dup_hist = 0 AND rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_within_batch,
           CAST(SUM(CASE WHEN dup_hist = 0 AND rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_accepted,
           CAST(SUM(CASE WHEN dup_hist = 0 AND rn = 1 THEN doc_id ELSE 0 END) AS BIGINT)
             AS accepted_id_checksum
    FROM ranked GROUP BY source
    """,
    tags=("text", "dedup", "llm-pipeline", "incremental"),
)
def incremental_dedup_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus dedup — the mode a production pipeline actually
    runs between crawls: fingerprint ONLY the new batch, anti-check it
    against the standing fingerprint index of the already-curated corpus,
    then dedup the survivors within the batch (min-id keep). History is
    simulated as doc_id % 5 ≠ 0; the new batch is the fresh docs plus a
    deterministic re-crawl slice of history (same text, new ids — must be
    caught by the index) plus planted second copies of some fresh docs
    (must be caught by within-batch dedup). Emits per-source funnel
    accounting with accepted-id checksums.

    Scale shape: the index is a stored fingerprint table — the batch join
    shuffles 16-byte keys of BATCH size (history is never rescanned, the
    asymmetry that makes incremental curation cheap); within-batch keep is
    a window over fingerprint groups (tiny partitions by construction).
    All map-side fingerprinting, zero UDFs."""
    from utils_spark.operators.dedup import incremental_dedup

    d = load_table(spark, sf_dir, "documents")
    fp = text_fingerprint("text")
    f = d.select("doc_id", "source", fp.alias("fp"))
    hist = f.filter(F.col("doc_id") % 5 != 0).select("fp")
    fresh = f.filter(F.col("doc_id") % 5 == 0)
    batch = (
        fresh.unionAll(
            f.filter((F.col("doc_id") % 5 != 0) & (F.col("doc_id") % 7 == 0)).select(
                (F.col("doc_id") + 10000000).alias("doc_id"), "source", "fp"
            )
        ).unionAll(
            fresh.filter(F.col("doc_id") % 3 == 0).select(
                (F.col("doc_id") + 20000000).alias("doc_id"), "source", "fp"
            )
        )
    )
    flagged = incremental_dedup(batch, hist, "doc_id", "fp")
    acc = F.col("accepted") == 1
    return flagged.groupBy("source").agg(
        F.count("*").alias("n_new"),
        F.sum("dup_hist").cast("long").alias("n_dup_vs_history"),
        F.sum(((F.col("dup_hist") == 0) & ~acc).cast("long"))
        .cast("long")
        .alias("n_dup_within_batch"),
        F.sum("accepted").cast("long").alias("n_accepted"),
        F.sum(F.when(acc, F.col("doc_id")).otherwise(0)).cast("long").alias("accepted_id_checksum"),
    )


@register(
    "k_anonymity_audit",
    # privacy audit over quasi-identifiers (lang, source): group sizes,
    # below-k flags (k = 10), and the suppression rate a k-anonymous
    # release would pay — exact integer accounting
    oracle="""
    WITH g AS (
      SELECT lang, source, COUNT(*) AS n FROM documents GROUP BY lang, source
    ),
    tot AS (
      SELECT SUM(CASE WHEN n < 10 THEN n ELSE 0 END) AS suppressed,
             SUM(n) AS total
      FROM g
    )
    SELECT g.lang, g.source, CAST(g.n AS BIGINT) AS n_docs,
           CASE WHEN g.n < 10 THEN 1 ELSE 0 END AS below_k,
           ROUND(CAST(t.suppressed AS DOUBLE) / t.total, 6) AS corpus_suppression_rate
    FROM g CROSS JOIN tot t
    """,
    tags=("text", "privacy", "k-anonymity", "llm-pipeline"),
)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the (lang, source) quasi-identifier pair:
    every equivalence class's size, whether it falls below k = 10 (a
    release would have to suppress or generalize those rows), and the
    corpus-wide suppression rate — the privacy sibling of `pii_scrub`
    (scrubbing removes direct identifiers; k-anonymity bounds re-
    identification through quasi-identifier combinations).

    Scale shape: one bounded aggregation over the quasi-identifier space
    plus a 1-row broadcast total — the audit costs one pass regardless of
    corpus size; the flag comparison is map-side."""
    d = load_table(spark, sf_dir, "documents")
    g = d.groupBy("lang", "source").agg(F.count("*").alias("n"))
    below = F.col("n") < 10
    tot = g.agg(
        F.sum(F.when(below, F.col("n")).otherwise(0)).alias("suppressed"),
        F.sum("n").alias("total"),
    )
    return g.crossJoin(F.broadcast(tot)).select(
        "lang",
        "source",
        F.col("n").cast("long").alias("n_docs"),
        below.cast("int").alias("below_k"),
        F.round(F.col("suppressed").cast("double") / F.col("total"), 6).alias(
            "corpus_suppression_rate"
        ),
    )


def _lm_trigram_oracle(max_ngrams: int | None) -> str:
    """Generated stupid-backoff oracle with the operator's top-K model
    cap replicated per order; N (the unigram-floor denominator) is the
    FULL reference token count, computed before the cap — exactly as the
    operator does."""
    from utils_spark.operators.textmodel import LM_MAX_NGRAMS

    k = LM_MAX_NGRAMS if max_ngrams is None else max_ngrams
    return f"""
    WITH tok AS (
      SELECT doc_id, source,
             list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS t
      FROM documents
    ),
    ref AS (SELECT t FROM tok WHERE doc_id % 2 = 0),
    uni_all AS (SELECT u AS w, COUNT(*) AS c1 FROM (SELECT unnest(t) AS u FROM ref) GROUP BY u),
    n_tok AS (SELECT CAST(SUM(c1) AS DOUBLE) AS n FROM uni_all),
    uni AS (
      SELECT w, c1 FROM (
        SELECT w, c1, row_number() OVER (ORDER BY c1 DESC, w ASC) AS rk FROM uni_all)
      WHERE rk <= {k}
    ),
    bi_all AS (
      SELECT t[i] AS w1, t[i+1] AS w2, COUNT(*) AS c2
      FROM ref, UNNEST(range(1, len(t))) AS r(i)
      WHERE len(t) >= 2 GROUP BY 1, 2
    ),
    bi AS (
      -- nested pruning: a capped bigram survives only if its context
      -- unigram w1 survived the unigram cap (branch-2 denominator
      -- c1(w2) is then guaranteed present whenever c2(w2,w3) matches)
      SELECT b.w1, b.w2, b.c2 FROM (
        SELECT w1, w2, c2, row_number() OVER (ORDER BY c2 DESC, w1 ASC, w2 ASC) AS rk
        FROM bi_all) b
      JOIN uni u ON u.w = b.w1
      WHERE b.rk <= {k}
    ),
    tri_all AS (
      SELECT t[i] AS w1, t[i+1] AS w2, t[i+2] AS w3, COUNT(*) AS c3
      FROM ref, UNNEST(range(1, len(t) - 1)) AS r(i)
      WHERE len(t) >= 3 GROUP BY 1, 2, 3
    ),
    tri AS (
      -- nested pruning: a capped trigram survives only if its (w1,w2)
      -- prefix bigram survived (branch-1 denominator c2(w1,w2) is then
      -- guaranteed present whenever c3 matches)
      SELECT tr.w1, tr.w2, tr.w3, tr.c3 FROM (
        SELECT w1, w2, w3, c3,
               row_number() OVER (ORDER BY c3 DESC, w1 ASC, w2 ASC, w3 ASC) AS rk
        FROM tri_all) tr
      JOIN bi p ON p.w1 = tr.w1 AND p.w2 = tr.w2
      WHERE tr.rk <= {k}
    ),
    docs3 AS (
      SELECT doc_id, source, t[i] AS w1, t[i+1] AS w2, t[i+2] AS w3
      FROM (SELECT * FROM tok WHERE doc_id % 2 = 1) d,
           UNNEST(range(1, len(t) - 1)) AS r(i)
      WHERE len(t) >= 3
    ),
    scored AS (
      SELECT d.doc_id, d.source,
             -ln(CASE
                   WHEN tri.c3 IS NOT NULL THEN CAST(tri.c3 AS DOUBLE) / h.c2
                   WHEN g.c2 IS NOT NULL THEN 0.4 * CAST(g.c2 AS DOUBLE) / u2.c1
                   ELSE 0.16 * GREATEST(CAST(COALESCE(u3.c1, 0) AS DOUBLE), 1.0) / n_tok.n
                 END) AS nl
      FROM docs3 d
      LEFT JOIN tri ON tri.w1 = d.w1 AND tri.w2 = d.w2 AND tri.w3 = d.w3
      LEFT JOIN bi h ON h.w1 = d.w1 AND h.w2 = d.w2
      LEFT JOIN bi g ON g.w1 = d.w2 AND g.w2 = d.w3
      LEFT JOIN uni u2 ON u2.w = d.w2
      LEFT JOIN uni u3 ON u3.w = d.w3
      CROSS JOIN n_tok
    ),
    per_doc AS (
      SELECT doc_id, ANY_VALUE(source) AS source,
             COUNT(*) AS n_trigrams, ROUND(AVG(nl), 6) AS s
      FROM scored GROUP BY doc_id
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_trigrams) AS BIGINT) AS n_trigrams,
           ROUND(AVG(s), 6) AS avg_score,
           ROUND(MIN(s), 6) AS best_score,
           ROUND(MAX(s), 6) AS worst_score
    FROM per_doc GROUP BY source
    """


@register(
    "lm_trigram_backoff_filter",
    # trigram LM with STUPID BACKOFF (Brants et al. 2007): model trained
    # on the EVEN-doc_id half — count tables CAPPED to the top
    # LM_MAX_NGRAMS per order (count-cutoff pruning; bounds the broadcast
    # at any corpus size) — scoring the ODD half, so unseen n-grams
    # genuinely exercise both backoff branches (self-scoring would make
    # every trigram seen and the backoff vacuous). Per-source summary of
    # the held-out scores.
    oracle=_lm_trigram_oracle(None),
    tags=("text", "llm-pipeline", "quality", "lm", "trigram", "backoff"),
)
def lm_trigram_backoff_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out trigram-LM quality scoring with stupid backoff (Brants et
    al. 2007, the web-scale recipe: unnormalized scores, fixed α = 0.4 —
    chosen there precisely because it needs only count tables at
    trillion-token scale). The model trains on the even-doc_id half of
    the corpus and scores the odd half, so unseen trigrams/bigrams
    genuinely take the backoff branches — self-scoring would make every
    n-gram seen and the backoff dead code. Per-source held-out score
    summary, the one-order-higher sibling of `lm_perplexity_filter`.

    Scale shape: see ``textmodel.trigram_backoff_scores`` — three count
    tables capped to the top LM_MAX_NGRAMS per order (count-cutoff
    pruning; bounded broadcast at any corpus size, capped-out n-grams
    take the backoff branches by design), map-only scoring joins, one
    per-doc combine, one per-source rollup."""
    from utils_spark.operators.textmodel import trigram_backoff_scores

    d = load_table(spark, sf_dir, "documents")
    ref = d.filter(F.col("doc_id") % 2 == 0)
    held = d.filter(F.col("doc_id") % 2 == 1)
    scores = trigram_backoff_scores(held, "doc_id", "text", ref, alpha=0.4)
    lab = held.select("doc_id", "source")
    return (
        scores.join(lab, "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_trigrams").cast("long").alias("n_trigrams"),
            F.round(F.avg("mean_neg_log_score"), 6).alias("avg_score"),
            F.round(F.min("mean_neg_log_score"), 6).alias("best_score"),
            F.round(F.max("mean_neg_log_score"), 6).alias("worst_score"),
        )
    )


@register(
    "bloom_decontamination",
    # Bloom-filter decontamination — the 100 TB shape of the benchmark
    # n-gram check: the benchmark's 5-gram set is compressed into a
    # 2^17-bit Bloom filter (2048 bit_or'd longs, ~16 KB broadcast;
    # 3 md5-derived probes per gram), so the corpus scan is MAP-ONLY —
    # no gram-keyed shuffle of corpus volume, unlike the exact join.
    # The filter is built from deterministic md5 positions, so DuckDB
    # constructs the IDENTICAL filter and the whole query (including
    # every false positive) is hash-exact, not just certified. The
    # exact-join counts ride along: bloom ⊇ exact per gram by
    # construction (no false negatives), FP overhead visible per source.
    oracle="""
    WITH toks AS (
      SELECT doc_id, source, regexp_split_to_array(trim(text), '\\s+') AS t
      FROM documents
    ),
    grams AS (
      SELECT doc_id, source, array_to_string(t[s.i : s.i + 4], ' ') AS g
      FROM toks, LATERAL (SELECT unnest(range(1, GREATEST(len(t) - 4, 0) + 1)) AS i) s
    ),
    bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 50 = 0),
    bpos AS (
      SELECT CAST(('0x' || substr(md5(b.g || '#' || t.i), 1, 15)) AS BIGINT) % 131072 AS p
      FROM bench b, UNNEST([0, 1, 2]) AS t(i)
    ),
    words AS (
      -- 63 usable bits per word: bit 63 stays clear so neither engine's
      -- checked left-shift can overflow on the sign bit
      SELECT p // 63 AS w, bit_or(CAST(1 AS BIGINT) << CAST(p % 63 AS INT)) AS bits
      FROM bpos GROUP BY 1
    ),
    corp AS (
      SELECT DISTINCT doc_id, source, g FROM grams WHERE doc_id % 50 != 0
    ),
    cprobe AS (
      SELECT c.doc_id, c.source, c.g,
             CAST(('0x' || substr(md5(c.g || '#' || t.i), 1, 15)) AS BIGINT) % 131072 AS p
      FROM corp c, UNNEST([0, 1, 2]) AS t(i)
    ),
    ghit AS (
      SELECT doc_id, source, g,
             SUM(CASE WHEN w.bits IS NOT NULL
                       AND (w.bits & (CAST(1 AS BIGINT) << CAST(p % 63 AS INT))) != 0
                      THEN 1 ELSE 0 END) AS nhit
      FROM cprobe LEFT JOIN words w ON w.w = p // 63
      GROUP BY doc_id, source, g
    ),
    per_doc AS (
      SELECT c.doc_id, ANY_VALUE(c.source) AS source,
             SUM(CASE WHEN h.nhit = 3 THEN 1 ELSE 0 END) AS n_bloom,
             SUM(CASE WHEN b.g IS NOT NULL THEN 1 ELSE 0 END) AS n_exact
      FROM corp c
      JOIN ghit h ON h.doc_id = c.doc_id AND h.g = c.g
      LEFT JOIN bench b ON b.g = c.g
      GROUP BY c.doc_id
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN n_bloom > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_docs_flagged_bloom,
           CAST(SUM(CASE WHEN n_exact > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_docs_flagged_exact,
           CAST(SUM(n_bloom) AS BIGINT) AS n_gram_hits_bloom,
           CAST(SUM(n_exact) AS BIGINT) AS n_gram_hits_exact
    FROM per_doc GROUP BY source
    """,
    tags=("text", "llm-pipeline", "decontamination", "bloom", "sketch"),
)
def bloom_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination via a Bloom filter — the scale path of
    `benchmark_decontamination`: instead of shuffling every corpus
    5-gram into an equi-join against the benchmark set, the benchmark
    grams are compressed into a 2^17-bit Bloom filter (3 md5-derived
    probes; 2048 bit_or-aggregated longs ≈ 16 KB) that BROADCASTS, so
    the corpus-side contamination scan is map-only. No false negatives
    by construction; the exact-join counts ride along per source so the
    false-positive overhead of the sketch is visible (bloom ⊇ exact per
    gram). Every position is deterministic md5 arithmetic, so the oracle
    rebuilds the byte-identical filter in SQL and the whole output —
    including each false positive — is hash-exact cross-engine.

    Scale shape: filter build = one DISTINCT + a 2048-key bit_or
    aggregation; probing = broadcast join on the word index + per-doc
    combine. At a 100 TB corpus with a large benchmark suite this is the
    difference between shuffling corpus-volume grams and streaming the
    scan past a broadcast bitset."""
    M = 131072  # 2^17 bits
    K = 3
    d = load_table(spark, sf_dir, "documents")
    t = word_tokens("text")
    n = F.size(t)
    gram_idx = F.when(n >= 5, F.sequence(F.lit(1), n - 4)).otherwise(
        F.array().cast("array<int>")
    )
    grams = (
        d.select("doc_id", "source", t.alias("t"), gram_idx.alias("idx"))
        .select("doc_id", "source", "t", F.explode("idx").alias("i"))
        .select(
            "doc_id",
            "source",
            F.array_join(F.slice("t", F.col("i"), 5), " ").alias("g"),
        )
    )
    bench = grams.filter(F.col("doc_id") % 50 == 0).select("g").distinct()
    probe_i = F.explode(F.array(*[F.lit(i) for i in range(K)])).alias("pi")
    pos = F.pmod(md5_long(F.concat_ws("#", F.col("g"), F.col("pi"))), F.lit(M))
    words = (
        bench.select("g", probe_i)
        .select(pos.alias("p"))
        .select(
            F.expr("p div 63").alias("w"),
            F.expr("shiftleft(cast(1 as bigint), cast(p % 63 as int))").alias("m"),
        )
        .groupBy("w")
        .agg(F.expr("bit_or(m)").alias("bits"))
    )
    corp = grams.filter(F.col("doc_id") % 50 != 0).distinct()
    cprobe = corp.select("doc_id", "source", "g", probe_i).select(
        "doc_id", "source", "g", pos.alias("p")
    )
    ghit = (
        cprobe.join(F.broadcast(words), F.expr("p div 63") == F.col("w"), "left")
        .select(
            "doc_id",
            "source",
            "g",
            (
                F.col("bits").isNotNull()
                & (
                    F.col("bits").bitwiseAND(
                        F.expr("shiftleft(cast(1 as bigint), cast(p % 63 as int))")
                    )
                    != 0
                )
            )
            .cast("int")
            .alias("hit"),
        )
        .groupBy("doc_id", "source", "g")
        .agg(F.sum("hit").alias("nhit"))
    )
    per_doc = (
        corp.join(ghit, ["doc_id", "source", "g"])
        .join(bench.withColumnRenamed("g", "bg"), F.col("g") == F.col("bg"), "left")
        .groupBy("doc_id")
        .agg(
            F.first("source").alias("source"),
            F.sum((F.col("nhit") == K).cast("long")).alias("n_bloom"),
            F.sum(F.col("bg").isNotNull().cast("long")).alias("n_exact"),
        )
    )
    return per_doc.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum((F.col("n_bloom") > 0).cast("long")).alias("n_docs_flagged_bloom"),
        F.sum((F.col("n_exact") > 0).cast("long")).alias("n_docs_flagged_exact"),
        F.sum("n_bloom").cast("long").alias("n_gram_hits_bloom"),
        F.sum("n_exact").cast("long").alias("n_gram_hits_exact"),
    )


# --- SimHash near-duplicate pairing (Charikar STOC'02; Manku et al. WWW'07) --

_SIMHASH_BITS = 48  # bit-vote signature width (exact in double: < 2^53)
_SIMHASH_BANDS = 4  # band count; 12 bits/band
_SIMHASH_K = 3  # Hamming radius; <= bands-1 so banding has perfect recall


def _simhash_sig48(text_col: str):
    """48-bit SimHash signature Column (`functions.simhash_bits`; the
    positional weight 2^b, b <= 47, fits a long). Returns (sig_long,
    band_vals array<long>[4]) — band k holds bits [12k, 12k+12), so
    sig == sum(band_vals[k] * 2^(12k))."""
    bits = simhash_bits(text_col, _SIMHASH_BITS)
    width = _SIMHASH_BITS // _SIMHASH_BANDS
    band_vals = F.transform(
        F.sequence(F.lit(0), F.lit(_SIMHASH_BANDS - 1)),
        lambda k: bits_to_long(F.slice(bits, k * width + 1, width)),
    )
    return bits_to_long(bits), band_vals


@register(
    "simhash_hamming_pairs",
    # SimHash near-dup pairs at CLUSTER grain: identical signatures are
    # collapsed first (the exact-dedup trick), then only DISTINCT
    # signatures are banded — the brute-force oracle over distinct sigs
    # proves the banded join loses nothing (Hamming <= 3 over 4 bands
    # leaves >= 1 band untouched, pigeonhole).
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             list_transform(
               list_distinct(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                         x -> x <> '')),
               w -> CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT)
                    % {1 << _SIMHASH_BITS}) AS hs
      FROM documents
    ),
    sig AS (
      SELECT doc_id,
             CAST(list_sum(list_transform(range(0, {_SIMHASH_BITS}),
                  b -> CASE WHEN list_sum(list_transform(hs,
                         h -> CASE WHEN (h // (CAST(1 AS BIGINT) << b)) % 2 = 1
                              THEN 1 ELSE -1 END)) > 0
                       THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)) AS BIGINT) AS sig
      FROM toks
    ),
    clus AS (
      SELECT sig, CAST(MIN(doc_id) AS BIGINT) AS rep,
             CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM sig GROUP BY sig
    )
    SELECT a.rep AS rep_a, b.rep AS rep_b, a.n_docs AS n_docs_a,
           b.n_docs AS n_docs_b,
           CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming,
           a.n_docs * b.n_docs AS pair_weight
    FROM clus a JOIN clus b ON a.rep < b.rep
    WHERE bit_count(xor(a.sig, b.sig)) <= {_SIMHASH_K}
    """,
    tags=("text", "dedup", "simhash", "lsh", "llm-pipeline"),
)
def simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-duplicate detection (Charikar STOC'02 random-hyperplane
    sketch; the banded Hamming lookup is Manku, Jain & Das Sarma WWW'07 —
    Google's web near-dup detector): 48-bit bit-vote signatures over
    distinct word tokens; identical signatures are collapsed into
    clusters FIRST; then only distinct signatures are banded (4
    contiguous 12-bit bands) and cluster pairs within Hamming distance 3
    are emitted with their member counts. Recall is PROVABLY perfect:
    <= 3 differing bits touch at most 3 of the 4 bands, so at least one
    band matches exactly (pigeonhole) — the brute-force oracle over
    distinct signatures checks exactly this.

    Completes the dedup taxonomy's SimHash family at pair level
    (`simhash_signature` emits only per-doc sketches).

    Scale shape: signatures are map-only JVM array expressions (one md5
    per distinct token, zero shuffle); collapsing identical signatures
    BEFORE banding is the load-bearing design — near-dup corpora have
    huge identical-signature clusters, and enumerating within-cluster
    pairs is quadratic in cluster size (an early doc-grain draft emitted
    994k pairs at sf0.1 in 36 s; this emits the same information as
    cluster pairs + weights in bounded output). The banded join then
    shuffles only (band_id, band_value) keys over DISTINCT signatures —
    never O(n²) in docs. Band width is the scale knob (Manku et al. use
    64-bit sigs with wider bands at web scale); 12-bit bands keep every
    integer exact in double for cross-engine parity while preserving the
    identical banded plan shape."""
    d = load_table(spark, sf_dir, "documents")
    # single-file local scans arrive as ONE partition; the 48-way bit
    # votes are CPU-bound, so spread them when scan parallelism is low
    # (no-op on a many-file cluster read — same guard as minhash_lsh_pairs)
    d = spread_low_parallelism(d)
    sig, band_vals = _simhash_sig48("text")
    clus = (
        d.select("doc_id", sig.alias("sig"), band_vals.alias("band_vals"))
        .groupBy("sig")
        .agg(
            F.min("doc_id").cast("long").alias("rep"),
            F.count("*").cast("long").alias("n_docs"),
            F.first("band_vals").alias("band_vals"),
        )
    )
    bands = clus.select(
        "sig", "rep", "n_docs", F.posexplode("band_vals").alias("band_id", "band_val")
    )
    a, b = bands.alias("a"), bands.alias("b")
    hamming = F.bit_count(F.col("a.sig").bitwiseXOR(F.col("b.sig")))
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.rep") < F.col("b.rep")),
        )
        .filter(hamming <= _SIMHASH_K)
        .select(
            F.col("a.rep").alias("rep_a"),
            F.col("b.rep").alias("rep_b"),
            F.col("a.n_docs").alias("n_docs_a"),
            F.col("b.n_docs").alias("n_docs_b"),
            hamming.cast("int").alias("hamming"),
            (F.col("a.n_docs") * F.col("b.n_docs")).alias("pair_weight"),
        )
        .distinct()
    )


@register(
    "containment_prefix_pairs",
    # ASYMMETRIC containment near-dup (Broder 1997): ordered pairs where
    # >= 4/5 of doc a's 5-gram shingles appear in doc b. Engine uses the
    # asymmetric prefix filter (provable perfect recall); the oracle is
    # brute-force inverted-index SQL over the same doc_id < 200 slice
    # BOTH engines use (precedent: ngram_jaccard_pairs — the synthetic
    # corpus's hot grams make an unfiltered corpus-wide gram self-join
    # quadratic, which is exactly why the prefix filter exists).
    oracle="""
    WITH sh AS (
      SELECT doc_id, list_distinct(list_transform(range(1, GREATEST(length(text) - 4, 1) + 1),
                     i -> substr(text, i, 5))) AS grams
      FROM documents WHERE doc_id < 200
    ),
    eg AS (SELECT doc_id, len(grams) AS sz, unnest(grams) AS gram FROM sh),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sz AS sz_a, COUNT(*) AS n_common
      FROM eg a JOIN eg b ON a.gram = b.gram AND a.doc_id <> b.doc_id
      GROUP BY 1, 2, 3
    )
    SELECT doc_a, doc_b,
           ROUND(CAST(n_common AS DOUBLE) / sz_a, 6) AS containment,
           CAST(sz_a AS BIGINT) AS sz_a, CAST(n_common AS BIGINT) AS n_common
    FROM inter WHERE 5 * n_common >= 4 * sz_a
    """,
    tags=("text", "dedup", "containment", "prefix-filter", "llm-pipeline"),
)
def containment_prefix_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle-containment near-dup pairs (Broder 1997,
    "On the resemblance and containment of documents"): ordered pairs
    (contained doc_a, container doc_b) where >= 80% of a's distinct
    5-gram shingles also occur in b — the quote/excerpt/copy relation
    symmetric Jaccard misses when |b| >> |a|. Candidates via the
    asymmetric prefix filter (a's rarest |a| - ceil(0.8|a|) + 1 grams
    probe b's FULL gram index — perfect recall, integer-rational
    threshold arithmetic; see ``dedup.prefix_filtered_containment_pairs``),
    then exact array-intersection verify. Completes the near-dup
    taxonomy's asymmetric axis beside symmetric `ngram_jaccard_pairs`.

    Scale shape: hot grams are structurally excluded from probe
    prefixes (global df ordering), so the index side's hot postings
    meet only rare-prefix probes; verification is per-candidate JVM
    array math. Both engines run the doc_id < 200 slice because the
    ORACLE is brute-force (the un-prefix-filtered gram join it runs is
    the quadratic shape the operator avoids; same bounding as
    `ngram_jaccard_pairs`)."""
    from utils_spark.operators.dedup import prefix_filtered_containment_pairs

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    r = prefix_filtered_containment_pairs(d, "text", "doc_id", 5, 4, 5)
    return r.select(
        F.col("key_a").alias("doc_a"),
        F.col("key_b").alias("doc_b"),
        F.round("containment", 6).alias("containment"),
        F.col("sz_a").cast("long").alias("sz_a"),
        "n_common",
    )


@register(
    "sorted_neighborhood_pairs",
    # Sorted-neighborhood record linkage (Hernandez & Stolfo SIGMOD 1995)
    # over documents: block by (lang, first word), sort each block by
    # (n_chars, doc_id), compare every record to its next w-1=2 neighbors
    # only, then verify candidates with levenshtein on the 80-char head.
    # The classic bounded-candidate alternative to LSH banding: O(n * w)
    # comparisons instead of O(n^2), with the blocking key bounding how
    # far a true match can sort away.
    oracle="""
    WITH d AS (
      SELECT doc_id, lang, split_part(text, ' ', 1) AS w, n_chars,
             substr(text, 1, 80) AS head
      FROM documents
    ),
    ordered AS (
      SELECT doc_id, lang, w,
             lead(doc_id, 1) OVER win AS nd1, lead(head, 1) OVER win AS nh1,
             lead(doc_id, 2) OVER win AS nd2, lead(head, 2) OVER win AS nh2,
             head
      FROM d WINDOW win AS (PARTITION BY lang, w ORDER BY n_chars, doc_id)
    ),
    cand AS (
      SELECT lang, w, doc_id AS doc_a, nd1 AS doc_b,
             levenshtein(head, nh1) AS edit_dist
      FROM ordered WHERE nd1 IS NOT NULL
      UNION ALL
      SELECT lang, w, doc_id, nd2, levenshtein(head, nh2)
      FROM ordered WHERE nd2 IS NOT NULL
    )
    SELECT lang, w AS block_word, doc_a, doc_b, CAST(edit_dist AS INT) AS edit_dist
    FROM cand WHERE edit_dist <= 40
    """,
    tags=("text", "dedup", "blocking", "record-linkage"),
)
def sorted_neighborhood_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood dedup candidates: the record-linkage classic
    that completes the candidate-generation taxonomy beside MinHash-LSH
    banding (`minhash_lsh_pairs`), prefix-filtered Jaccard
    (`ngram_jaccard_pairs`) and SimHash Hamming bands
    (`simhash_hamming_pairs`) — here the candidate set is each record's
    w-1=2 successors in the (n_chars, doc_id) sort order of its
    (lang, first-word) block, verified by levenshtein <= 40 on the
    80-char head. Integer edit distances are bit-identical across
    engines.

    Scale shape: blocks partition the corpus (~lang x vocab of them), the
    sort + lead window parallelizes per block, and the expensive
    levenshtein kernel runs on exactly 2n candidate pairs, never a
    self-join. The window-width/blocking-key trade-off (recall vs cost)
    is the published knob; multi-pass with a second key is the standard
    recall booster and composes by UNION over runs."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.split_part(F.col("text"), F.lit(" "), F.lit(1)).alias("w"),
        "n_chars",
        F.substring("text", 1, 80).alias("head"),
    )
    win = Window.partitionBy("lang", "w").orderBy("n_chars", "doc_id")
    ordered = d.select(
        "doc_id",
        "lang",
        "w",
        "head",
        F.lead("doc_id", 1).over(win).alias("nd1"),
        F.lead("head", 1).over(win).alias("nh1"),
        F.lead("doc_id", 2).over(win).alias("nd2"),
        F.lead("head", 2).over(win).alias("nh2"),
    )
    c1 = ordered.filter(F.col("nd1").isNotNull()).select(
        "lang",
        "w",
        F.col("doc_id").alias("doc_a"),
        F.col("nd1").alias("doc_b"),
        F.levenshtein("head", "nh1").alias("edit_dist"),
    )
    c2 = ordered.filter(F.col("nd2").isNotNull()).select(
        "lang",
        "w",
        F.col("doc_id").alias("doc_a"),
        F.col("nd2").alias("doc_b"),
        F.levenshtein("head", "nh2").alias("edit_dist"),
    )
    return (
        c1.unionByName(c2)
        .filter(F.col("edit_dist") <= 40)
        .select(
            "lang",
            F.col("w").alias("block_word"),
            "doc_a",
            "doc_b",
            F.col("edit_dist").cast("int").alias("edit_dist"),
        )
    )


@register(
    "naive_bayes_langid",
    # Multinomial Naive Bayes (the classic generative text classifier;
    # McCallum & Nigam AAAI-98 workshop formulation) trained IN-ENGINE on
    # the even-doc_id half of the corpus and scored on the odd half, with
    # the model CAPPED to the top NB_TOPK_FEATURES words per language
    # (count desc, word asc — deterministic feature selection; the cap
    # bounds the broadcast model at any corpus size): add-1-smoothed word
    # likelihoods ln((c_wl + 1)/(tot_l + V)) over the capped model, class
    # log-priors, argmax per test doc with scores rounded to 6dp before
    # ranking (squashes sub-1e-13 FP sum-order noise far inside the
    # window), tie-broken by lang. Output is the confusion matrix plus
    # overall accuracy.
    oracle=f"""
    WITH train AS (SELECT doc_id, lang, text FROM documents WHERE doc_id % 2 = 0),
    test AS (SELECT doc_id, lang AS true_lang, text FROM documents WHERE doc_id % 2 = 1),
    tw AS (SELECT lang, unnest(string_split(text, ' ')) AS word FROM train),
    twc_full AS (SELECT lang, word, CAST(COUNT(*) AS DOUBLE) AS c
                 FROM tw WHERE word <> '' GROUP BY 1, 2),
    twc AS (
      SELECT lang, word, c FROM (
        SELECT lang, word, c,
               row_number() OVER (PARTITION BY lang ORDER BY c DESC, word ASC) AS rk
        FROM twc_full)
      WHERE rk <= {NB_TOPK_FEATURES}
    ),
    tot AS (SELECT lang, SUM(c) AS tot FROM twc GROUP BY lang),
    vocab AS (SELECT CAST(COUNT(DISTINCT word) AS DOUBLE) AS v FROM twc),
    prior AS (
      SELECT lang, ln(CAST(COUNT(*) AS DOUBLE)
                      / (SELECT CAST(COUNT(*) AS DOUBLE) FROM train)) AS lp
      FROM train GROUP BY lang
    ),
    qw AS (SELECT doc_id, true_lang, unnest(string_split(text, ' ')) AS word FROM test),
    qwc AS (SELECT doc_id, true_lang, word, CAST(COUNT(*) AS DOUBLE) AS q
            FROM qw WHERE word <> '' GROUP BY 1, 2, 3),
    cand AS (
      SELECT qwc.doc_id, qwc.true_lang, p.lang,
             SUM(qwc.q * (ln(COALESCE(twc.c, 0) + 1) - ln(t.tot + vocab.v)))
               + ANY_VALUE(p.lp) AS score
      FROM qwc
      CROSS JOIN prior p
      JOIN tot t ON t.lang = p.lang
      CROSS JOIN vocab
      LEFT JOIN twc ON twc.lang = p.lang AND twc.word = qwc.word
      GROUP BY qwc.doc_id, qwc.true_lang, p.lang
    ),
    pred AS (
      SELECT doc_id, true_lang, lang AS pred_lang,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY ROUND(score, 6) DESC, lang ASC) AS rn
      FROM cand
    ),
    conf AS (
      SELECT true_lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n
      FROM pred WHERE rn = 1 GROUP BY 1, 2
    ),
    acc AS (
      SELECT SUM(CASE WHEN true_lang = pred_lang THEN n ELSE 0 END)
               / CAST(SUM(n) AS DOUBLE) AS a
      FROM conf
    )
    SELECT c.true_lang, c.pred_lang, c.n, ROUND(acc.a, 4) AS accuracy
    FROM conf c CROSS JOIN acc
    """,
    tags=("text", "classifier", "naive-bayes", "langid"),
)
def naive_bayes_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes language classifier trained and applied
    entirely in-engine — the generative counterpart of the
    discriminative `quality_classifier_filter` (pre-fitted coefficients)
    and the heuristic `lang_id_ngram`: the model (word-class counts,
    class totals, vocab size, priors) is learned from the even-doc half
    with add-1 smoothing and scored over the odd half, ending in a
    confusion matrix + overall accuracy.

    Scale shape: training is one (word, lang)-keyed corpus aggregation
    CAPPED to the top NB_TOPK_FEATURES words per language (rank filter,
    deterministic) — the model broadcast is |langs| x K rows, bounded at
    any corpus size, unlike the raw (lang x distinct-word) table, whose
    cardinality grows with the corpus (Heaps' law); scoring explodes
    test docs to per-doc word counts once, joins the broadcast model and
    the bounded lang list (a x|langs| fan-out, not a corpus self-join),
    and closes with per-doc and confusion-grain aggregations. Unseen and
    capped-out words hit the smoothing floor via the left join's
    COALESCE. Scores round to 6dp before the argmax window so
    cross-engine/run FP sum-order noise (~1e-13) cannot flip ranks."""
    d = load_table(spark, sf_dir, "documents")
    train = d.filter(F.col("doc_id") % 2 == 0)
    test = d.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", F.col("lang").alias("true_lang"), "text"
    )
    tw = train.select(
        "lang", F.explode(F.split("text", " ")).alias("word")
    ).filter(F.col("word") != "")
    twc_full = tw.groupBy("lang", "word").agg(F.count("*").cast("double").alias("c"))
    wrank = Window.partitionBy("lang").orderBy(F.desc("c"), F.asc("word"))
    twc = (
        twc_full.withColumn("rk", F.row_number().over(wrank))
        .filter(F.col("rk") <= NB_TOPK_FEATURES)
        .drop("rk")
    )
    tot = twc.groupBy("lang").agg(F.sum("c").alias("tot"))
    vocab = twc.agg(F.countDistinct("word").cast("double").alias("v"))
    n_train = train.count()
    prior = train.groupBy("lang").agg(
        F.log(F.count("*").cast("double") / F.lit(float(n_train))).alias("lp")
    )
    qwc = (
        test.select("doc_id", "true_lang", F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("doc_id", "true_lang", "word")
        .agg(F.count("*").cast("double").alias("q"))
    )
    model = (
        prior.join(tot, "lang")  # bounded: one row per lang
    )
    likelihood = twc.select(
        F.col("lang").alias("mlang"), F.col("word").alias("mword"), "c"
    )
    cand = (
        qwc.crossJoin(F.broadcast(model))
        .crossJoin(F.broadcast(vocab))
        .join(
            F.broadcast(likelihood),
            (F.col("mlang") == F.col("lang")) & (F.col("mword") == F.col("word")),
            "left",
        )
        .groupBy("doc_id", "true_lang", "lang")
        .agg(
            (
                F.sum(F.col("q") * (F.log(F.coalesce(F.col("c"), F.lit(0.0)) + 1) - F.log(F.col("tot") + F.col("v"))))
                + F.first("lp")
            ).alias("score")
        )
    )
    win = Window.partitionBy("doc_id").orderBy(F.round("score", 6).desc(), F.asc("lang"))
    pred = cand.select("doc_id", "true_lang", F.col("lang").alias("pred_lang"),
                       F.row_number().over(win).alias("rn")).filter(F.col("rn") == 1)
    conf = pred.groupBy("true_lang", "pred_lang").agg(F.count("*").cast("long").alias("n"))
    acc = conf.agg(
        (
            F.sum(F.when(F.col("true_lang") == F.col("pred_lang"), F.col("n")).otherwise(F.lit(0)))
            / F.sum("n").cast("double")
        ).alias("a")
    )
    return conf.crossJoin(F.broadcast(acc)).select(
        "true_lang", "pred_lang", "n", F.round("a", 4).alias("accuracy")
    )


@register(
    "cdc_chunk_dedup",
    # Content-defined chunking (Gear rolling hash — the FastCDC family,
    # Xia et al. USENIX ATC 2016): h = (2h + ascii(c)*2654435761 mod 2^32)
    # mod 2^32 per char (the multiplier is Knuth's; the 2h shift ages a
    # char out of the hash after 32 steps, so boundaries depend only on a
    # 32-char window and survive insertions — the property fixed-size
    # blocking lacks). Boundary when chunk_len >= 16 and h % 64 == 0
    # (target 64-char chunks), forced at 128 and at end-of-doc. Both
    # engines fold the IDENTICAL integer recursion (Spark F.aggregate
    # struct state, DuckDB list_reduce with [h, len, bounds...] packed
    # as a flat BIGINT list), so chunk boundaries are byte-identical.
    oracle="""
    WITH folded AS (
      SELECT doc_id, source, text, len(text) AS n,
             list_reduce(
               list_concat([[0, 0]], list_transform(generate_series(1, len(text)), i -> [i])),
               (acc, x) -> CASE
                 WHEN ((acc[2] + 1 >= 16
                        AND ((acc[1] * 2 + ascii(substr(text, CAST(x[1] AS INT), 1)) * 2654435761 % 4294967296) % 4294967296) % 64 = 0)
                       OR acc[2] + 1 >= 128)
                 THEN list_concat(
                        list_concat([(acc[1] * 2 + ascii(substr(text, CAST(x[1] AS INT), 1)) * 2654435761 % 4294967296) % 4294967296, 0], acc[3:]),
                        [x[1]])
                 ELSE list_concat(
                        [(acc[1] * 2 + ascii(substr(text, CAST(x[1] AS INT), 1)) * 2654435761 % 4294967296) % 4294967296, acc[2] + 1],
                        acc[3:])
               END
             ) AS st
      FROM documents
    ),
    bounds AS (
      SELECT doc_id, source, text, n,
             CASE WHEN len(st) > 2 AND st[-1] = n THEN st[3:]
                  ELSE list_concat(st[3:], [CAST(n AS BIGINT)]) END AS ends
      FROM folded WHERE n > 0
    ),
    chunks AS (
      SELECT doc_id, source,
             unnest(list_transform(generate_series(1, len(ends)),
               k -> struct_pack(
                 h := md5(substr(text, CAST(CASE WHEN k = 1 THEN 1 ELSE ends[k-1] + 1 END AS INT),
                                 CAST(ends[k] - CASE WHEN k = 1 THEN 1 ELSE ends[k-1] + 1 END + 1 AS INT))),
                 ln := ends[k] - CASE WHEN k = 1 THEN 1 ELSE ends[k-1] + 1 END + 1
               ))) AS c
      FROM bounds
    ),
    flat AS (SELECT doc_id, source, c.h AS h, c.ln AS ln FROM chunks),
    perh AS (
      SELECT source, h, COUNT(*) AS cnt, COUNT(DISTINCT doc_id) AS nd
      FROM flat GROUP BY source, h
    ),
    cross_src AS (
      SELECT source,
             CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_cross_doc_chunks
      FROM perh GROUP BY source
    ),
    base AS (
      SELECT source,
             CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
             CAST(COUNT(*) AS BIGINT) AS n_chunks,
             CAST(COUNT(DISTINCT h) AS BIGINT) AS n_distinct_chunks,
             ROUND(1.0 - CAST(COUNT(DISTINCT h) AS DOUBLE) / COUNT(*), 6) AS dup_chunk_ratio,
             ROUND(AVG(CAST(ln AS DOUBLE)), 6) AS mean_chunk_len
      FROM flat GROUP BY source
    )
    SELECT b.source, b.n_docs, b.n_chunks, b.n_distinct_chunks,
           c.n_cross_doc_chunks, b.dup_chunk_ratio, b.mean_chunk_len
    FROM base b JOIN cross_src c ON b.source = c.source
    """,
    tags=("text", "dedup", "llm-pipeline", "chunking"),
)
def cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking dedup audit (the FastCDC family, Xia et
    al. 2016): a Gear rolling hash h = (2h + G(c)) mod 2^32 with
    G(c) = ascii(c) * 2654435761 mod 2^32 cuts each document at
    content-determined boundaries (chunk length >= 16, h % 64 == 0 →
    ~64-char average chunks, hard cap 128, forced cut at end-of-doc).
    Because 2h ages a character out after 32 steps, boundaries depend
    only on a sliding 32-char window — an insertion shifts at most the
    chunk it lands in, so shared text between near-duplicate documents
    still yields byte-identical chunks (the storage-dedup analog of
    shingling; this is how backup systems and binary-blob dedup find
    redundancy without O(n^2) comparison). Emits per-source chunk
    counts, distinct/duplicate chunk ratios, chunks shared across >= 2
    docs, and mean chunk length.

    Scale shape: the fold is map-only per document (one pass over its
    chars, integer arithmetic only — no per-char md5); the only
    corpus-volume shuffles are keyed on (source, chunk-hash) — chunk
    grain, never doc x doc. The repartition guard spreads the
    CPU-bound fold locally (single-row-group parquet) and provably
    no-ops on a real multi-file cluster scan."""
    d = load_table(spark, sf_dir, "documents")
    d = spread_low_parallelism(d)

    M32 = F.lit(4294967296)

    def _step(acc, x):
        g = F.ascii(F.col("text").substr(x.cast("int"), F.lit(1))).cast("long") * F.lit(
            2654435761
        ) % M32
        h2 = (acc["h"] * 2 + g) % M32
        ln2 = acc["ln"] + F.lit(1)
        boundary = ((ln2 >= 16) & (h2 % 64 == F.lit(0))) | (ln2 >= 128)
        return F.when(
            boundary,
            F.struct(
                h2.alias("h"),
                F.lit(0).alias("ln"),
                F.concat(acc["b"], F.array(x)).alias("b"),
            ),
        ).otherwise(F.struct(h2.alias("h"), ln2.alias("ln"), acc["b"].alias("b")))

    folded = d.filter(F.length("text") > 0).select(
        "doc_id",
        "source",
        "text",
        F.length("text").cast("long").alias("n"),
        F.aggregate(
            F.sequence(F.lit(1).cast("long"), F.length("text").cast("long")),
            F.struct(
                F.lit(0).cast("long").alias("h"),
                F.lit(0).alias("ln"),
                F.array().cast("array<long>").alias("b"),
            ),
            _step,
        ).alias("st"),
    )
    bounds = folded.select(
        "doc_id",
        "source",
        "text",
        "n",
        F.when(
            (F.size("st.b") > 0) & (F.element_at("st.b", -1) == F.col("n")), F.col("st.b")
        )
        .otherwise(F.concat("st.b", F.array(F.col("n"))))
        .alias("ends"),
    )
    ks = F.sequence(F.lit(1), F.size("ends"))
    chunks = bounds.select(
        "doc_id",
        "source",
        F.explode(
            F.transform(
                ks,
                lambda k: F.struct(
                    F.md5(
                        F.col("text").substr(
                            F.when(k == 1, F.lit(1).cast("long"))
                            .otherwise(F.element_at("ends", (k - 1).cast("int")) + 1)
                            .cast("int"),
                            (
                                F.element_at("ends", k.cast("int"))
                                - F.when(k == 1, F.lit(1).cast("long")).otherwise(
                                    F.element_at("ends", (k - 1).cast("int")) + 1
                                )
                                + 1
                            ).cast("int"),
                        )
                    ).alias("h"),
                    (
                        F.element_at("ends", k.cast("int"))
                        - F.when(k == 1, F.lit(1).cast("long")).otherwise(
                            F.element_at("ends", (k - 1).cast("int")) + 1
                        )
                        + 1
                    ).alias("ln"),
                ),
            )
        ).alias("c"),
    )
    flat = chunks.select("doc_id", "source", F.col("c.h").alias("h"), F.col("c.ln").alias("ln"))
    perh = flat.groupBy("source", "h").agg(
        F.count("*").alias("cnt"), F.countDistinct("doc_id").alias("nd")
    )
    cross_src = perh.groupBy("source").agg(
        F.sum(F.when(F.col("nd") > 1, 1).otherwise(0)).cast("long").alias("n_cross_doc_chunks")
    )
    base = flat.groupBy("source").agg(
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
        F.count("*").cast("long").alias("n_chunks"),
        F.countDistinct("h").cast("long").alias("n_distinct_chunks"),
        F.round(
            1.0 - F.countDistinct("h").cast("double") / F.count("*"), 6
        ).alias("dup_chunk_ratio"),
        F.round(F.avg(F.col("ln").cast("double")), 6).alias("mean_chunk_len"),
    )
    return base.join(cross_src, "source").select(
        "source", "n_docs", "n_chunks", "n_distinct_chunks",
        "n_cross_doc_chunks", "dup_chunk_ratio", "mean_chunk_len",
    )


@register(
    "roc_auc_quality_signal",
    # Rank-based ROC-AUC (Hanley & McNeil 1982; the Mann-Whitney U
    # identity AUC = (sum of positive ranks - n1(n1+1)/2) / (n1 n0))
    # evaluating document length as a classifier for lang='en', per
    # source — the standard evaluation statistic for any quality /
    # filter signal (FineWeb-Edu-style classifiers are tuned on exactly
    # this). Average ranks on ties (n_chars collides often), so the AUC
    # equals the probability a random positive outranks a random
    # negative with ties counted half — the proper trapezoidal ROC area.
    oracle="""
    WITH ranked AS (
      SELECT source, lang,
             (2 * RANK() OVER (PARTITION BY source ORDER BY n_chars)
              + COUNT(*) OVER (PARTITION BY source, n_chars) - 1) / 2.0 AS r
      FROM documents
    ),
    agg AS (
      SELECT source,
             SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS n1,
             SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS n0,
             SUM(CASE WHEN lang = 'en' THEN r ELSE 0 END) AS sr
      FROM ranked GROUP BY source
    )
    SELECT source, CAST(n1 AS BIGINT) AS n_pos, CAST(n0 AS BIGINT) AS n_neg,
           CASE WHEN n1 > 0 AND n0 > 0
                THEN ROUND((sr - n1 * (n1 + 1) / 2.0) / (n1 * 1.0 * n0), 6)
                END AS auc
    FROM agg
    """,
    tags=("text", "evaluation", "llm-pipeline", "classifier"),
)
def roc_auc_quality_signal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-based ROC-AUC (Hanley & McNeil 1982) of a quality signal:
    how well does raw document length separate English docs from the
    rest, per source? Computed via the Mann-Whitney identity on
    average ranks (ties counted half), i.e. the exact trapezoidal ROC
    area without materializing the curve — the one-pass,
    shuffle-bounded way to evaluate ANY per-doc score (perplexity,
    classifier logit, heuristic) against a binary label at corpus
    scale. Degenerate sources (no positives or no negatives) emit NULL
    rather than a fake 0.5 — guarded EXPLICITLY in both engines rather
    than relying on division-by-zero semantics, which diverge (Spark
    non-ANSI returns NULL; recent DuckDB defaults to IEEE NaN/inf for
    double division).

    Scale shape: one window rank per source partition (the score sort
    is per-source, parallel across sources), one bounded per-source
    aggregate. Rank sums are exact multiples of 0.5 so the unordered
    SUM is float-exact across engines."""
    d = load_table(spark, sf_dir, "documents")
    ranked = d.select("source", "lang", average_rank(["source"], "n_chars").alias("r"))
    agg = ranked.groupBy("source").agg(
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("lang") == "en", 0).otherwise(1)).alias("n0"),
        F.sum(F.when(F.col("lang") == "en", F.col("r")).otherwise(0)).alias("sr"),
    )
    return agg.select(
        "source",
        F.col("n1").cast("long").alias("n_pos"),
        F.col("n0").cast("long").alias("n_neg"),
        F.when(
            (F.col("n1") > 0) & (F.col("n0") > 0),
            F.round(
                (F.col("sr") - F.col("n1") * (F.col("n1") + 1) / 2.0)
                / (F.col("n1") * 1.0 * F.col("n0")),
                6,
            ),
        ).alias("auc"),
    )


@register(
    "cross_source_ngram_overlap",
    # Pairwise word-3-gram Jaccard overlap between SOURCES — the
    # corpus-level contamination matrix (which feeds overlap with
    # which?) that per-doc dedup queries don't see: distinct
    # (source, gram) sets, gram-keyed intersection self-join, Jaccard
    # from the inclusion-exclusion identity |A∪B| = |A|+|B|-|A∩B|.
    # Every join is keyed on the gram; a gram's fanout is bounded by
    # n_sources^2 pairs regardless of corpus size, so there is no
    # doc x doc or row^2 stage anywhere.
    oracle="""
    WITH toks AS (
      SELECT source, list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                 x -> x <> '') AS w
      FROM documents
    ),
    grams AS (
      SELECT DISTINCT source, u.g AS g
      FROM toks, UNNEST(list_transform(generate_series(1, len(w) - 2),
                                       i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS u(g)
    ),
    sizes AS (SELECT source, COUNT(*) AS sz FROM grams GROUP BY source),
    inter AS (
      SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS ix
      FROM grams a JOIN grams b ON a.g = b.g AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT i.source_a, i.source_b,
           CAST(sa.sz AS BIGINT) AS grams_a, CAST(sb.sz AS BIGINT) AS grams_b,
           CAST(i.ix AS BIGINT) AS intersection,
           ROUND(CAST(i.ix AS DOUBLE) / (sa.sz + sb.sz - i.ix), 6) AS jaccard
    FROM inter i
    JOIN sizes sa ON i.source_a = sa.source
    JOIN sizes sb ON i.source_b = sb.source
    """,
    tags=("text", "llm-pipeline", "contamination", "corpus-analysis"),
)
def cross_source_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-level contamination matrix: exact word-3-gram Jaccard
    between every pair of corpus sources. Per-doc decontamination
    (`benchmark_decontamination`, `fuzzy_decontamination`) asks "is
    this doc leaked?"; this asks the corpus-curation question "which
    SOURCES share content?" — the signal behind mixture reweighting and
    source-level dedup decisions. Sets are distinct (source, gram)
    pairs; intersections come from a gram-keyed self-join and the
    union size from inclusion-exclusion, so the full n_sources^2/2
    matrix costs one distinct + one keyed join.

    Scale shape: the only corpus-volume shuffles are keyed on
    (source, gram) [the distinct] and gram [the intersection join];
    each gram fans out to at most n_sources^2 pairs no matter how big
    the corpus — there is no doc x doc stage. The per-source set sizes
    are a bounded table joined back at pair grain."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "source",
        F.filter(
            F.split(F.trim(F.col("text")), r"\s+"), lambda x: x != ""
        ).alias("w"),
    )
    grams = toks.select(
        "source",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("w") - 2),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at(F.col("w"), i),
                    F.element_at(F.col("w"), i + 1),
                    F.element_at(F.col("w"), i + 2),
                ),
            )
        ).alias("g"),
    ).distinct()
    sizes = grams.groupBy("source").agg(F.count("*").alias("sz"))
    a, b = grams.alias("a"), grams.alias("b")
    inter = (
        a.join(b, (F.col("a.g") == F.col("b.g")) & (F.col("a.source") < F.col("b.source")))
        .groupBy(
            F.col("a.source").alias("source_a"), F.col("b.source").alias("source_b")
        )
        .agg(F.count("*").alias("ix"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    return (
        inter.join(F.broadcast(sa), F.col("source_a") == F.col("sa.source"))
        .join(F.broadcast(sb), F.col("source_b") == F.col("sb.source"))
        .select(
            "source_a",
            "source_b",
            F.col("sa.sz").cast("long").alias("grams_a"),
            F.col("sb.sz").cast("long").alias("grams_b"),
            F.col("ix").cast("long").alias("intersection"),
            F.round(
                F.col("ix").cast("double")
                / (F.col("sa.sz") + F.col("sb.sz") - F.col("ix")),
                6,
            ).alias("jaccard"),
        )
    )


@register(
    "gini_source_inequality",
    # Gini coefficient of document length per source (the corpus
    # contribution-inequality audit: is a source's volume spread
    # across docs or concentrated in a few giants?) via the exact
    # sorted-rank identity G = sum_i (2i - n - 1) x_(i) / (n sum x).
    # With integer n_chars the numerator and denominator are EXACT
    # integers in both engines, and rank ties don't matter: within a
    # tied group sum((2i-n-1)*x) depends only on which rank slots the
    # group occupies, not on the tie-break — so the statistic is
    # deterministic even though row_number is not.
    oracle="""
    WITH ranked AS (
      SELECT source, n_chars,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS i,
             COUNT(*) OVER (PARTITION BY source) AS n,
             SUM(n_chars) OVER (PARTITION BY source) AS tot
      FROM documents
    )
    SELECT source, CAST(MAX(n) AS BIGINT) AS n_docs,
           ROUND(CAST(MAX(tot) AS DOUBLE) / MAX(n), 6) AS mean_chars,
           ROUND(CAST(SUM((2 * i - n - 1) * n_chars) AS DOUBLE)
                 / (MAX(n) * MAX(tot)), 6) AS gini
    FROM ranked GROUP BY source
    """,
    tags=("text", "corpus-analysis", "llm-pipeline"),
)
def gini_source_inequality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-document length within each source —
    the inequality audit a mixture designer reads before weighting
    sources: G ~ 0 means volume is spread evenly across documents,
    G -> 1 means a few giant docs carry the source (and a naive
    doc-count mixture weight misstates its token share, see
    `mixture_temperature_weights`). Uses the exact sorted-rank
    identity G = sum (2i-n-1) x_(i) / (n sum x); the rank-weighted sum
    is integer-exact in both engines, and tie-break order provably
    cannot change the statistic (tied values occupy a fixed set of
    rank slots whose weight sum is tie-break-invariant).

    Scale shape: one per-source sort window (parallel across sources
    — the partition key is the source), then a bounded per-source
    aggregate; no joins, no corpus re-entry."""
    d = load_table(spark, sf_dir, "documents")
    wo = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    wn = Window.partitionBy("source")
    ranked = d.select(
        "source",
        "n_chars",
        F.row_number().over(wo).alias("i"),
        F.count("*").over(wn).alias("n"),
        F.sum("n_chars").over(wn).alias("tot"),
    )
    return ranked.groupBy("source").agg(
        F.max("n").cast("long").alias("n_docs"),
        F.round(F.max("tot").cast("double") / F.max("n"), 6).alias("mean_chars"),
        F.round(
            F.sum((2 * F.col("i") - F.col("n") - 1) * F.col("n_chars")).cast("double")
            / (F.max("n") * F.max("tot")),
            6,
        ).alias("gini"),
    )


@register(
    "tokenizer_fertility",
    # Tokenizer fertility evaluation (Rust et al. ACL 2021 "How Good is
    # Your Tokenizer?"): per LANGUAGE, the mean subword pieces per word
    # (fertility), continuation-piece share, and chars-per-token of the
    # 8-round BPE tokenizer trained in-engine on this corpus — the
    # standard multilingual-equity audit (a tokenizer trained on
    # English-heavy data over-segments other languages; fertility is
    # the number that shows it). Oracle replays the ENTIRE 8-round
    # trainer via the shared generated-CTE builder, then the same
    # vocabulary join and per-language accounting — all totals are
    # exact integers, so parity is hash-exact.
    oracle=_bpe_cte_parts(8)
    + """,
    vocab AS (
      SELECT replace(s, chr(31), '') AS w,
             len(list_filter(string_split(s, chr(31)), x -> x <> '')) AS ntok
      FROM words8
    ),
    docw AS (
      SELECT doc_id, lang,
             unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                x -> x <> '')) AS w
      FROM documents
    ),
    enc AS (
      SELECT d.lang, v.ntok, length(d.w) AS wlen
      FROM docw d JOIN vocab v USING (w)
      WHERE d.w NOT LIKE '%' || chr(31) || '%'
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(ntok) AS BIGINT) AS n_tokens,
           ROUND(CAST(SUM(ntok) AS DOUBLE) / COUNT(*), 6) AS fertility,
           ROUND(CAST(SUM(ntok) - COUNT(*) AS DOUBLE) / SUM(ntok), 6)
             AS continuation_ratio,
           ROUND(CAST(SUM(wlen) AS DOUBLE) / SUM(ntok), 6) AS chars_per_token
    FROM enc GROUP BY lang
    """,
    tags=("text", "tokenizer", "llm-pipeline", "evaluation"),
)
def tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language fertility audit of the in-engine BPE tokenizer
    (Rust et al. 2021): fertility = subword pieces per word,
    continuation ratio = share of non-initial pieces, and
    chars-per-token, for the 8-round BPE vocabulary trained on this
    corpus. This is the evaluation a multilingual pipeline runs before
    committing to a tokenizer — languages under-represented at
    training time get systematically higher fertility (more compute
    and context spent per word), and this query quantifies that gap
    from the corpus itself.

    Scale shape: training costs are `bpe_train`'s (vocab-bounded
    rounds); evaluation is one word explode + a broadcast left join
    against the TOP-K head-word dictionary (explicit Limit — bounded at
    any corpus size, never the Heaps'-law-unbounded full word table)
    with the per-row merge-fold chain as a coalesce fallback for tail
    occurrences, then a bounded per-language aggregate. All accounting
    totals are exact integers — cross-engine parity is
    order-independent."""
    from utils_spark.operators.textmodel import (
        TOKENIZER_APPLY_TOPK,
        _word_symbol_table,
        bpe_encode_expr,
        bpe_train,
    )

    d = load_table(spark, sf_dir, "documents")
    merges_df = bpe_train(d, "text", n_merges=8)
    merges = [
        (r.left_tok, r.right_tok) for r in merges_df.orderBy("merge_round").collect()
    ]
    head = (
        _word_symbol_table(d, "text")
        .orderBy(F.desc("n"), F.asc("w"))
        .limit(TOKENIZER_APPLY_TOPK)
        .select("w", F.size(bpe_encode_expr(F.col("w"), merges)).alias("head_ntok"))
    )
    docw = d.select("doc_id", "lang", F.explode(word_tokens("text")).alias("w")).filter(
        ~F.col("w").contains("\x1f")
    )
    enc = docw.join(F.broadcast(head), "w", "left").select(
        "lang",
        F.coalesce(
            F.col("head_ntok"), F.size(bpe_encode_expr(F.col("w"), merges))
        ).alias("ntok"),
        F.length("w").alias("wlen"),
    )
    return enc.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_words"),
        F.sum("ntok").cast("long").alias("n_tokens"),
        F.round(F.sum("ntok").cast("double") / F.count("*"), 6).alias("fertility"),
        F.round(
            (F.sum("ntok") - F.count("*")).cast("double") / F.sum("ntok"), 6
        ).alias("continuation_ratio"),
        F.round(F.sum("wlen").cast("double") / F.sum("ntok"), 6).alias(
            "chars_per_token"
        ),
    )


@register(
    "curriculum_length_stages",
    # Length-curriculum staging (Bengio et al. 2009 curriculum
    # learning, the shortest-first schedule most LLM data pipelines
    # ship): global order by (n_chars, doc_id), NTILE(4) into equal
    # stages, per-stage composition stats. The unique doc_id tie-break
    # makes the global order total, so NTILE assignment — and thus
    # every per-stage aggregate — is engine-deterministic.
    oracle="""
    WITH staged AS (
      SELECT doc_id, lang, source, n_chars,
             NTILE(4) OVER (ORDER BY n_chars, doc_id) AS stage
      FROM documents
    )
    SELECT CAST(stage AS INT) AS stage, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(n_chars) AS BIGINT) AS min_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars,
           ROUND(AVG(CAST(n_chars AS DOUBLE)), 6) AS mean_chars,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
    FROM staged GROUP BY stage
    """,
    tags=("text", "llm-pipeline", "curriculum"),
)
def curriculum_length_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum staging audit: split the corpus into 4 equal
    shortest-first training stages (the classic length curriculum,
    Bengio et al. 2009) and report each stage's size, length envelope
    and language/source composition — the check a curriculum designer
    runs to see whether "easy first" accidentally means "English
    first" or "one source first" (stage composition skew is the known
    failure mode of naive length curricula). NTILE over the
    (n_chars, doc_id) total order is engine-deterministic because the
    tie-break key is unique.

    Scale shape: the global NTILE is a single total sort — at corpus
    scale the same staging is computed from the n_chars distribution
    (approx quantile cut points) instead; this exact variant is the
    oracle-checkable form and the documented switch mirrors
    `grouped_quantiles` vs `approx_sketch_aggs`. Everything after is
    one bounded 4-group aggregate."""
    d = load_table(spark, sf_dir, "documents")
    staged = d.select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        F.ntile(4).over(Window.orderBy("n_chars", "doc_id")).alias("stage"),
    )
    return staged.groupBy("stage").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.min("n_chars").cast("long").alias("min_chars"),
        F.max("n_chars").cast("long").alias("max_chars"),
        F.round(F.avg(F.col("n_chars").cast("double")), 6).alias("mean_chars"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.countDistinct("source").cast("long").alias("n_sources"),
    ).select(
        F.col("stage").cast("int").alias("stage"),
        "n_docs", "min_chars", "max_chars", "mean_chars", "n_langs", "n_sources",
    )


@register(
    "suffix_lcp_dedup",
    # suffix-array+LCP maximal duplicated span (Lee et al. 2021) — the
    # measurement the fixed-30-token-window dedup can't give: per doc,
    # the exact character length of its longest word-boundary substring
    # (single-space normalized, capped at 120 chars) shared with a
    # DIFFERENT doc. Bucketed by 20-char prefix (exact for spans >= 20;
    # is_dup threshold 40), nearest-different-doc neighbor via run
    # collapse in sorted suffix order.
    oracle="""
    WITH toks AS (
      SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                 x -> x <> '') AS t
      FROM documents
    ),
    suf AS (
      SELECT DISTINCT doc_id,
             substr(array_to_string(t[i:len(t)], ' '), 1, 120) AS sfx
      FROM toks, UNNEST(range(1, len(t) + 1)) AS r(i)
    ),
    b AS (SELECT doc_id, sfx, substr(sfx, 1, 20) AS bkt FROM suf),
    seq AS (
      SELECT doc_id, sfx, bkt,
             CASE WHEN lag(doc_id) OVER w IS NULL
                    OR lag(doc_id) OVER w <> doc_id THEN 1 ELSE 0 END AS chg
      FROM b WINDOW w AS (PARTITION BY bkt ORDER BY sfx, doc_id)
    ),
    runs0 AS (
      SELECT doc_id, sfx, bkt,
             SUM(chg) OVER (PARTITION BY bkt ORDER BY sfx, doc_id
                            ROWS UNBOUNDED PRECEDING) AS run_id
      FROM seq
    ),
    runs AS (
      SELECT bkt, run_id, ANY_VALUE(doc_id) AS doc_id,
             MIN(sfx) AS first_sfx, MAX(sfx) AS last_sfx
      FROM runs0 GROUP BY bkt, run_id
    ),
    nbr AS (
      SELECT doc_id, first_sfx, last_sfx,
             lag(last_sfx) OVER w2 AS prev_last,
             lead(first_sfx) OVER w2 AS next_first
      FROM runs WINDOW w2 AS (PARTITION BY bkt ORDER BY run_id)
    ),
    lcps AS (
      -- LCP = first per-char mismatch position minus one (prefix
      -- equality is monotone); no mismatch in 1..120 means one string
      -- prefixes the other -> LCP = shorter length
      SELECT doc_id, GREATEST(
        CASE WHEN prev_last IS NULL THEN 0 ELSE COALESCE(
          -- list_position yields 0 (not NULL) when absent -> NULLIF
          NULLIF(list_position(list_transform(range(1, 121), i ->
            substr(first_sfx, CAST(i AS INT), 1) =
            substr(prev_last, CAST(i AS INT), 1)), false), 0) - 1,
          LEAST(length(first_sfx), length(prev_last))) END,
        CASE WHEN next_first IS NULL THEN 0 ELSE COALESCE(
          NULLIF(list_position(list_transform(range(1, 121), i ->
            substr(last_sfx, CAST(i AS INT), 1) =
            substr(next_first, CAST(i AS INT), 1)), false), 0) - 1,
          LEAST(length(last_sfx), length(next_first))) END
      ) AS span
      FROM nbr
      WHERE prev_last IS NOT NULL OR next_first IS NOT NULL
    ),
    per_doc AS (SELECT doc_id, MAX(span) AS span FROM lcps GROUP BY doc_id),
    counts AS (SELECT doc_id, COUNT(*) AS n_suffixes FROM suf GROUP BY doc_id)
    SELECT c.doc_id,
           CAST(c.n_suffixes AS BIGINT) AS n_suffixes,
           CAST(COALESCE(p.span, 0) AS BIGINT) AS max_dup_span,
           COALESCE(p.span, 0) >= 40 AS is_dup
    FROM counts c LEFT JOIN per_doc p USING (doc_id)
    """,
    tags=("text", "dedup", "llm-pipeline", "suffix-array", "lcp"),
)
def suffix_lcp_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal duplicated-span dedup (Lee et al. 2021's suffix-array+LCP
    measurement, VERDICT r9's sanctioned longer-window variant of
    exact-substring dedup): per document, the exact character length of
    the longest word-boundary substring it shares with ANOTHER document
    — `exact_substring_dedup`'s fixed 30-token windows answer "is there
    a >=30-token repeat?", this answers "how long is the longest
    repeat?", the signal used to pick dedup thresholds in the paper.

    Scale shape: see ``operators.dedup.suffix_lcp_spans`` — per-word
    suffixes capped to 120 chars, range-partitioned by 20-char prefix
    (exact for spans >= 20), nearest-different-doc LCP via run collapse
    in sorted order (the SA adjacency property), one doc-keyed rollup.
    All LCPs are JVM column folds; never doc x doc."""
    from utils_spark.operators.dedup import suffix_lcp_spans

    d = load_table(spark, sf_dir, "documents")
    return suffix_lcp_spans(d, "text", "doc_id", max_len=120, bucket_chars=20, min_span=40)


@register(
    "count_mean_sketch_frequency",
    # count-MEAN sketch frequency estimation (the debiased-mean sketch of
    # Apple's private telemetry CMS, Differential Privacy Team 2017 —
    # here the sketch/debias infrastructure with the privacy noise
    # omitted, so both engines build the byte-identical sketch): k=3
    # md5-derived hash rows x m=1024 counters; every word occurrence
    # increments one counter per row; the estimate for a word is the
    # mean over rows of (counter - N/m) * m/(m-1), which is unbiased
    # under pairwise-independent hashing. Reported for the top-20 words
    # (true count desc, word asc) with the true count alongside.
    oracle="""
    WITH occ AS (
      SELECT unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                x -> x <> '')) AS w
      FROM documents
    ),
    wc AS (SELECT w, COUNT(*) AS n FROM occ GROUP BY w),
    total AS (SELECT CAST(SUM(n) AS DOUBLE) AS nn FROM wc),
    sketch AS (
      SELECT t.j, CAST(('0x' || substr(md5(wc.w || '#' || t.j), 1, 15)) AS BIGINT) % 1024 AS p,
             SUM(wc.n) AS c
      FROM wc, UNNEST([0, 1, 2]) AS t(j)
      GROUP BY 1, 2
    ),
    topw AS (
      SELECT w, n FROM wc ORDER BY n DESC, w ASC LIMIT 20
    ),
    probe AS (
      SELECT tw.w, tw.n, t.j,
             CAST(('0x' || substr(md5(tw.w || '#' || t.j), 1, 15)) AS BIGINT) % 1024 AS p
      FROM topw tw, UNNEST([0, 1, 2]) AS t(j)
    ),
    est AS (
      SELECT pr.w, pr.n,
             AVG((COALESCE(sk.c, 0) - tt.nn / 1024) * 1024.0 / 1023.0) AS e
      FROM probe pr LEFT JOIN sketch sk ON sk.j = pr.j AND sk.p = pr.p
      CROSS JOIN total tt
      GROUP BY pr.w, pr.n
    )
    SELECT w AS word, CAST(n AS BIGINT) AS true_count,
           ROUND(e, 6) AS cms_estimate,
           ROUND(ABS(e - n), 6) AS abs_err
    FROM est
    """,
    tags=("text", "llm-pipeline", "sketch", "frequency", "cms"),
)
def count_mean_sketch_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-mean-sketch word-frequency estimation — the debiased-mean
    cousin of `countmin_heavy_hitters` (count-min takes the MIN over
    rows and overestimates; count-mean subtracts the expected collision
    mass N/m and averages, the estimator of Apple's CMS telemetry
    paper). The registered query reports sketch estimates vs true
    counts for the top-20 words, making the sketch's error directly
    visible and hash-exact cross-engine (positions are deterministic
    md5 arithmetic — the `bloom_decontamination` discipline; the
    randomized-response privacy layer is deliberately omitted).

    Scale shape: the sketch is ONE aggregation keyed by (row, bucket) —
    at most k x m = 3,072 cells regardless of corpus size — built from
    the word-count table, so the corpus is touched once (word-keyed
    shuffle, the same cost as exact counting; the sketch's win at 100 TB
    is the ~24 KB mergeable state that replaces the unbounded word table
    in DOWNSTREAM consumers and stream checkpoints). Probing broadcasts
    the bounded sketch. Never a word-table broadcast."""
    m, rows = 1024, 3
    d = load_table(spark, sf_dir, "documents")
    wc = (
        d.select(F.explode(word_tokens("text")).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("n"))
    )
    total = wc.agg(F.sum("n").cast("double").alias("nn"))
    j = F.explode(F.array(*[F.lit(i) for i in range(rows)])).alias("j")
    pos = F.pmod(md5_long(F.concat_ws("#", F.col("w"), F.col("j"))), F.lit(m))
    sketch = (
        wc.select("w", "n", j)
        .select(F.col("j"), pos.alias("p"), F.col("n"))
        .groupBy("j", "p")
        .agg(F.sum("n").alias("c"))
    )
    topw = wc.orderBy(F.desc("n"), F.asc("w")).limit(20)
    probe = topw.select("w", "n", j).select("w", "n", "j", pos.alias("p"))
    est = (
        probe.join(F.broadcast(sketch), ["j", "p"], "left")
        .crossJoin(F.broadcast(total))
        .groupBy("w", "n")
        .agg(
            F.avg(
                (F.coalesce("c", F.lit(0)) - F.col("nn") / m) * m / (m - 1)
            ).alias("e")
        )
    )
    return est.select(
        F.col("w").alias("word"),
        F.col("n").cast("long").alias("true_count"),
        F.round("e", 6).alias("cms_estimate"),
        F.round(F.abs(F.col("e") - F.col("n")), 6).alias("abs_err"),
    )


@register(
    "split_leakage_audit",
    # leakage-safe train/val splitting + contamination audit: the split
    # is assigned by SOURCE hash (GroupShuffleSplit semantics — all docs
    # of a source land on the same side, so near-duplicate families that
    # cluster within a source cannot straddle the boundary by
    # construction), then the audit counts the leakage that GROUPING
    # alone cannot prevent: exact-content fingerprints (md5 of trimmed
    # text) present on BOTH sides. Deterministic md5 split → hash-exact
    # cross-engine.
    oracle="""
    WITH docs AS (
      SELECT md5(trim(text)) AS fp,
             CASE WHEN CAST(('0x' || substr(md5(source), 1, 15)) AS BIGINT) % 10 < 8
                  THEN 'train' ELSE 'val' END AS split
      FROM documents
    ),
    sides AS (
      SELECT fp,
             SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS n_train,
             SUM(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS n_val
      FROM docs GROUP BY fp
    ),
    flagged AS (
      SELECT d.split, d.fp,
             CASE WHEN s.n_train > 0 AND s.n_val > 0 THEN 1 ELSE 0 END AS leaked
      FROM docs d JOIN sides s USING (fp)
    )
    SELECT split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_fingerprints,
           CAST(SUM(leaked) AS BIGINT) AS n_leaked_docs,
           ROUND(SUM(leaked) * 1.0 / COUNT(*), 6) AS leak_rate
    FROM flagged GROUP BY split
    """,
    tags=("text", "llm-pipeline", "split", "leakage", "dedup"),
)
def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe holdout splitting with a contamination audit — the
    eval-hygiene step of a training pipeline: assign train/val by a
    deterministic hash of the GROUPING key (source), so correlated
    near-duplicates within a source can never straddle the split, then
    measure what grouping cannot prevent — exact-content fingerprints
    appearing on both sides (the signal that two sources carry copies
    of the same document and the val set is contaminated).

    Scale shape: the split is a map-only hash expression; the audit is
    one fingerprint-keyed aggregation joined back on the fingerprint
    and one 2-group rollup — the `exact_dedup` shuffle shape, never
    doc x doc and no broadcast of corpus-derived state."""
    d = load_table(spark, sf_dir, "documents")
    split = F.when(
        F.pmod(md5_long(F.col("source")), F.lit(10)) < 8, F.lit("train")
    ).otherwise(F.lit("val"))
    docs = d.select(F.md5(F.trim("text")).alias("fp"), split.alias("split"))
    sides = docs.groupBy("fp").agg(
        F.sum((F.col("split") == "train").cast("int")).alias("n_train"),
        F.sum((F.col("split") == "val").cast("int")).alias("n_val"),
    )
    flagged = docs.join(sides, "fp").select(
        "split",
        "fp",
        ((F.col("n_train") > 0) & (F.col("n_val") > 0)).cast("long").alias("leaked"),
    )
    return flagged.groupBy("split").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.countDistinct("fp").cast("long").alias("n_fingerprints"),
        F.sum("leaked").cast("long").alias("n_leaked_docs"),
        F.round(F.sum("leaked") / F.count("*"), 6).alias("leak_rate"),
    )


@register(
    "pretokenizer_token_counts",
    # BPE-style regex pre-tokenization counting (the GPT-2 pre-tokenizer
    # stage reduced to its three character classes: letter runs, digit
    # runs, punctuation runs) — token-budget accounting needs pre-token
    # counts, not whitespace counts, because the pre-tokenizer splits
    # "don't." into 3 pieces where whitespace sees 1. Per-language
    # rollup with the pretokens-per-word fertility ratio.
    oracle="""
    WITH per_doc AS (
      SELECT lang,
             len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                             x -> x <> '')) AS n_ws,
             len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+')) AS n_pre,
             len(regexp_extract_all(text, '[A-Za-z]+')) AS n_alpha,
             len(regexp_extract_all(text, '[0-9]+')) AS n_num,
             len(regexp_extract_all(text, '[^A-Za-z0-9\\s]+')) AS n_punct
      FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_ws) AS BIGINT) AS n_ws_tokens,
           CAST(SUM(n_pre) AS BIGINT) AS n_pretokens,
           CAST(SUM(n_alpha) AS BIGINT) AS n_alpha_runs,
           CAST(SUM(n_num) AS BIGINT) AS n_num_runs,
           CAST(SUM(n_punct) AS BIGINT) AS n_punct_runs,
           ROUND(AVG(CASE WHEN n_ws > 0 THEN n_pre * 1.0 / n_ws END), 6) AS avg_fertility
    FROM per_doc GROUP BY lang
    """,
    tags=("text", "llm-pipeline", "tokenizer", "pretokenizer", "counting"),
)
def pretokenizer_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex pre-tokenizer counting — the "token counting (whitespace +
    a BPE-ish regex)" text-analysis primitive: the GPT-2-family
    pre-tokenizer splits text into letter runs, digit runs, and
    punctuation runs BEFORE subword merging, so token-budget and
    fertility accounting must count pre-tokens, not whitespace words.
    Per-language totals plus the mean per-doc pretokens-per-word
    fertility.

    Scale shape: map-only regexp_extract_all counting (JVM regex, no
    Python) + one lang-keyed rollup — a 100 TB corpus is one pass."""
    d = load_table(spark, sf_dir, "documents")
    pre = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+"
    per_doc = d.select(
        "lang",
        F.size(word_tokens("text")).alias("n_ws"),
        F.size(F.regexp_extract_all("text", F.lit(pre), 0)).alias("n_pre"),
        F.size(F.regexp_extract_all("text", F.lit("[A-Za-z]+"), 0)).alias("n_alpha"),
        F.size(F.regexp_extract_all("text", F.lit("[0-9]+"), 0)).alias("n_num"),
        F.size(F.regexp_extract_all("text", F.lit("[^A-Za-z0-9\\s]+"), 0)).alias("n_punct"),
    )
    return per_doc.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_ws").cast("long").alias("n_ws_tokens"),
        F.sum("n_pre").cast("long").alias("n_pretokens"),
        F.sum("n_alpha").cast("long").alias("n_alpha_runs"),
        F.sum("n_num").cast("long").alias("n_num_runs"),
        F.sum("n_punct").cast("long").alias("n_punct_runs"),
        F.round(
            F.avg(F.when(F.col("n_ws") > 0, F.col("n_pre") / F.col("n_ws"))), 6
        ).alias("avg_fertility"),
    )


@register(
    "ngram_novelty_curve",
    # order-aware corpus novelty decay: as a crawl accumulates, what
    # fraction of each document's 8-gram TYPES is genuinely new (first
    # occurrence in corpus order)? The curve's slope is the redundancy
    # signal curation teams watch when deciding how much more of a
    # source to ingest — distinct from cross_doc_ngram_duplication,
    # which counts duplication without accumulation order. Docs are
    # bucketed into ingestion-order deciles ARITHMETICALLY (doc_id
    # against the max id, a 1-row broadcast) — deliberately not
    # ntile(), whose global-order window would single-task a
    # corpus-sized sort.
    oracle="""
    WITH toks AS (
      SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                 x -> x <> '') AS t
      FROM documents
    ),
    grams AS (
      SELECT DISTINCT doc_id, array_to_string(t[i : i + 7], ' ') AS g
      FROM toks, UNNEST(range(1, GREATEST(len(t) - 7, 0) + 1)) AS r(i)
    ),
    owner AS (SELECT g, MIN(doc_id) AS first_doc FROM grams GROUP BY g),
    per_doc AS (
      SELECT gr.doc_id,
             COUNT(*) AS n_grams,
             SUM(CASE WHEN o.first_doc = gr.doc_id THEN 1 ELSE 0 END) AS n_novel
      FROM grams gr JOIN owner o USING (g)
      GROUP BY gr.doc_id
    ),
    mx AS (SELECT MAX(doc_id) AS m FROM per_doc)
    SELECT LEAST(9, CAST(FLOOR(p.doc_id * 10.0 / (mx.m + 1)) AS INT)) AS decile,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(p.n_grams) AS BIGINT) AS n_grams,
           CAST(SUM(p.n_novel) AS BIGINT) AS n_novel,
           ROUND(AVG(p.n_novel * 1.0 / p.n_grams), 6) AS avg_novelty
    FROM per_doc p CROSS JOIN mx
    GROUP BY 1
    """,
    tags=("text", "llm-pipeline", "dedup", "novelty", "curation"),
)
def ngram_novelty_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus novelty-decay curve: per ingestion-order decile, the mean
    fraction of each document's distinct 8-grams whose FIRST corpus
    occurrence is that document. Early deciles are ~all-novel; the decay
    rate tells a curation team when a source stops adding information —
    the accumulation-order signal `cross_doc_ngram_duplication` (order-
    free duplication mass) cannot give.

    Scale shape: gram explode + per-doc distinct (corpus-sized but
    linear), one gram-keyed MIN aggregation joined back on the gram key,
    one doc-keyed rollup, then an ARITHMETIC decile (doc_id scaled by
    the broadcast 1-row max id) + 10-group rollup. No global-order
    window (ntile over the corpus would single-task the sort); never
    gram-table broadcasts."""
    d = load_table(spark, sf_dir, "documents")
    # gram construction is CPU-bound map work; spread a low-parallelism
    # single-file scan first (the substring_window_duplicates guard)
    d = spread_low_parallelism(d)
    t = word_tokens("text")
    n = F.size(t)
    idx = F.when(n >= 8, F.sequence(F.lit(1), n - 7)).otherwise(
        F.expr("array()").cast("array<int>")
    )
    grams = (
        d.select("doc_id", t.alias("t"), idx.alias("idx"))
        .select("doc_id", F.explode("idx").alias("i"), "t")
        .select("doc_id", F.array_join(F.slice("t", F.col("i"), 8), " ").alias("g"))
        .distinct()
    )
    owner = grams.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        grams.join(owner, "g")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum((F.col("first_doc") == F.col("doc_id")).cast("long")).alias("n_novel"),
        )
    )
    mx = per_doc.agg(F.max("doc_id").alias("m"))
    decile = F.least(F.lit(9), (F.col("doc_id") * 10 / (F.col("m") + 1)).cast("int"))
    return (
        per_doc.crossJoin(F.broadcast(mx))
        .groupBy(decile.alias("decile"))
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_grams").cast("long").alias("n_grams"),
            F.sum("n_novel").cast("long").alias("n_novel"),
            F.round(F.avg(F.col("n_novel") / F.col("n_grams")), 6).alias("avg_novelty"),
        )
    )
