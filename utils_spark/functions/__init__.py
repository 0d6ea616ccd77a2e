"""Reusable Column-expression builders.

Everything here is a pure ``pyspark.sql.functions`` composition — JVM-side,
whole-stage-codegen friendly, no Python UDFs. These are the scalar kernels
the reference applies row-wise in R (SURVEY.md §2.7) plus the deterministic
hashing primitives our sampling / dedup / similarity operators build on.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, Window
from pyspark.sql import functions as F


def md5_long(col: Column | str) -> Column:
    """Deterministic 60-bit integer hash of a string column via md5.

    Unlike ``F.xxhash64`` (whose seed/partitioning make cross-engine parity
    awkward), md5 is bit-identical in every engine: we take the first 15 hex
    chars (60 bits, always < 2^63 so it fits a signed BIGINT in any engine).
    Used for seeded-deterministic sampling (SURVEY §7.2) and MinHash.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def det_order_key(key: Column | str, seed: int | str) -> Column:
    """Deterministic pseudo-random ordering key: md5(key || ':' || seed).

    Replaces ``F.rand(seed)`` (partition-dependent; SURVEY §7.2) wherever the
    reference uses seeded sampling (reference R/reference.R:150-155 seed 290).
    Orders identically regardless of partitioning, engine, or cluster size.
    """
    k = F.col(key) if isinstance(key, str) else key
    return F.md5(F.concat_ws(":", k.cast("string"), F.lit(str(seed))))


def pair_key(a: Column | str, b: Column | str, sep: str = "-") -> Column:
    """Order-insensitive pair key: sort the two labels then join.

    Reference P14 (R/compare_annotation.R:93-95).
    """
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return F.concat_ws(sep, F.array_sort(F.array(a, b)))


def make_unique(name: Column | str, order_by: Column | str):
    """R ``make.unique`` semantics: first occurrence keeps the name, later
    duplicates get ``.1``, ``.2``, ... suffixes (reference P22,
    R/wrapper.R:38-42). Deterministic via an explicit tiebreak ordering.

    Returns a Column; must be used with a Window — see operators.relational.
    """
    n = F.col(name) if isinstance(name, str) else name
    o = F.col(order_by) if isinstance(order_by, str) else order_by
    rn = F.row_number().over(Window.partitionBy(n).orderBy(o))
    return F.when(rn == 1, n).otherwise(F.concat_ws(".", n, (rn - 1).cast("string")))


def utc_day(ts: Column | str) -> Column:
    """Calendar day of a timestamp, ``to_date(date_trunc('day', ts))``: the
    day bucket of every daily roll-up. Sessions run in UTC, so this is the
    UTC day, as the oracles' ``CAST(date_trunc('day', ts) AS DATE)``."""
    return F.to_date(F.date_trunc("day", ts))


def average_rank(partition_by: Sequence[str], order_by: str) -> Column:
    """Tie-averaged rank of ``order_by`` within ``partition_by`` (R's
    ``rank(ties.method = "average")``): (2·rank + ties − 1) / 2.0, where
    ties counts the rows that share the value. The ranks are
    half-integers, exact in double. Two windows: the rank's ordered one
    and the per-value count."""
    rank = F.rank().over(Window.partitionBy(*partition_by).orderBy(order_by))
    ties = F.count("*").over(Window.partitionBy(*partition_by, order_by))
    return (2 * rank + ties - 1) / 2.0


def zscore(value: Column, mean: Column, std: Column) -> Column:
    """Row-wise z-score with non-finite→NULL (reference P19,
    R/tradeseq.R:172-182: `(x - mean(x)) / sd(x)`, non-finite to NA)."""
    z = (value - mean) / std
    return F.when(F.isnan(z) | (F.abs(z) == float("inf")), F.lit(None)).otherwise(z)


def squish(value: Column, lo: Column, hi: Column) -> Column:
    """Clamp to a robust range (reference P20, R/tradeseq.R:222-236)."""
    return F.least(F.greatest(value, lo), hi)


def log2_cpm(count: Column, size_factor: Column) -> Column:
    """log-normalization kernel: log2(count / size_factor + 1)
    (reference R/reference.R:161 via scater::logNormCounts)."""
    return F.log2(count / size_factor + F.lit(1.0))


def fixed_width_bucket(value: Column | str, width: float, n_buckets: int) -> Column:
    """Fixed-width histogram bucket index in [0, n_buckets-1].

    Spark has ``F.width_bucket`` but the arithmetic here (`floor(v/width)`)
    is chosen to be bit-identical across engines for oracle parity.
    Reference A13/A14 (R/tradeseq.R:131-150, R/wrapper.R:130-133).
    """
    v = F.col(value) if isinstance(value, str) else value
    return F.least(F.floor(v / F.lit(width)), F.lit(n_buckets - 1)).cast("int")


def char_shingles(text: Column | str, k: int = 3) -> Column:
    """Array of distinct k-character shingles of a string (JVM-side only:
    sequence + transform + array_distinct — no UDF, no explode until the
    caller chooses to). Foundation for n-gram Jaccard / MinHash dedup."""
    t = F.col(text) if isinstance(text, str) else text
    idx = F.sequence(F.lit(1), F.greatest(F.length(t) - (k - 1), F.lit(1)))
    return F.array_distinct(F.transform(idx, lambda i: t.substr(i, F.lit(k))))


def word_tokens(text: Column | str) -> Column:
    """Whitespace tokenization → array<string> (text-analysis surface)."""
    t = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(F.trim(t), r"\s+"), lambda w: w != "")


def minhash_band_structs(sig_col: Column | str, n_hashes: int, n_bands: int) -> Column:
    """LSH band keys from a MinHash signature array:
    array<struct<band_id int, band_hash string>> where band_hash is the
    md5 of the comma-joined signature slice — the exact banding used by
    minhash_lsh_pairs / fuzzy_decontamination (their inline builders are
    the historical copies of this kernel). Stateless, streaming-safe."""
    rows = n_hashes // n_bands
    c = F.col(sig_col) if isinstance(sig_col, str) else sig_col
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.md5(F.concat_ws(",", *[c[b * rows + r] for r in range(rows)])).alias("band_hash"),
            )
            for b in range(n_bands)
        ]
    )


# MinHash universal-hash family: ONE md5 per shingle, then cheap affine
# permutations h_i = (a_i * h30 + b_i) mod P30 in 30-bit space — products
# stay < 2^60 so the arithmetic is overflow-free and bit-identical in every
# engine (md5 16x per shingle was the 80 s/sf0.1 hot spot; this is ~10x less
# hashing work). Constants derived deterministically from md5(i).
MINHASH_P30 = 1073741789  # largest prime < 2^30
_TWO30 = 1 << 30


def _minhash_constants(n: int) -> list[tuple[int, int]]:
    import hashlib

    out = []
    for i in range(n):
        h = hashlib.md5(f"minhash:{i}".encode()).hexdigest()
        a = (int(h[:8], 16) % (MINHASH_P30 - 1)) + 1  # a in [1, P30-1]
        b = int(h[8:16], 16) % MINHASH_P30
        out.append((a, b))
    return out


def _minhash_sig_col(grams, n_hashes: int):
    """array<long> MinHash signature column: md5 once per shingle, affine
    permutations per hash function. Pure JVM expressions, zero shuffle."""
    consts = _minhash_constants(n_hashes)
    a_arr = F.array(*[F.lit(a) for a, _ in consts])
    b_arr = F.array(*[F.lit(b) for _, b in consts])
    init = F.array(*[F.lit(MINHASH_P30).cast("long")] * n_hashes)  # P30 > any hash value
    # md5 exactly ONCE per shingle (naive per-hash array_min duplicates the
    # md5 transform n_hashes times under CollapseProject — measured 9x slower)
    base = F.transform(grams, lambda s: md5_long(s) % _TWO30)
    return F.aggregate(
        base,
        init,
        lambda acc, h: F.transform(
            acc,
            lambda v, i: F.least(
                v, (F.element_at(a_arr, i + 1) * h + F.element_at(b_arr, i + 1)) % MINHASH_P30
            ),
        ),
    )


def simhash_bits(text: Column | str, n_bits: int) -> Column:
    """SimHash bit vector (Charikar STOC'02) over distinct word tokens:
    array<long>[n_bits] of 0/1. Each token's md5-derived n_bits-bit hash
    votes ±1 per bit position; a bit is set when its vote sum is positive.
    Exact for n_bits <= 52: token hashes < 2^n_bits, so floor(h / 2^b) % 2
    is lossless in double (division by a power of two only shifts the
    exponent) and equals DuckDB's integer (h >> b) & 1.

    The per-bit vote sums accumulate in ONE pass over the token array
    (array accumulator + zip_with), so the md5 hash runs exactly once per
    token — a per-bit aggregate formulation inlines the hash array into
    every bit's aggregate (CollapseProject re-inlines it even through an
    intermediate projection) and was measured 48x the hashing work at 48
    bits (20 s → 4 s at sf0.1)."""
    hs = F.transform(
        F.array_distinct(word_tokens(text)),
        lambda t: md5_long(t) % F.lit(1 << n_bits).cast("long"),
    )

    def bit_of(h, b):
        return F.floor(h.cast("double") / F.pow(F.lit(2.0), b.cast("double"))).cast("long") % 2

    bit_range = F.sequence(F.lit(0), F.lit(n_bits - 1))
    votes = F.aggregate(
        hs,
        F.array_repeat(F.lit(0), n_bits),
        lambda acc, h: F.zip_with(
            acc,
            F.transform(bit_range, lambda b: F.when(bit_of(h, b) == 1, 1).otherwise(-1)),
            lambda a, v: a + v,
        ),
    )
    return F.transform(votes, lambda v: F.when(v > 0, 1).otherwise(0).cast("long"))


def bits_to_long(bits: Column) -> Column:
    """sum(bits[i] * 2^i) of a 0/1 array<long> via a (sum, weight) fold —
    pure long arithmetic, exact for up to 63 bits."""
    acc0 = F.struct(F.lit(0).cast("long").alias("s"), F.lit(1).cast("long").alias("w"))
    return F.aggregate(
        bits,
        acc0,
        lambda a, x: F.struct((a["s"] + x * a["w"]).alias("s"), (a["w"] * 2).alias("w")),
        lambda a: a["s"],
    )


def text_fingerprint(text: Column | str) -> Column:
    """Exact-dedup fingerprint: md5 of the trimmed, lower-cased,
    whitespace-collapsed text — the key every fingerprint dedup path
    (batch, incremental and streaming) groups on."""
    t = F.col(text) if isinstance(text, str) else text
    return F.md5(F.lower(F.regexp_replace(F.trim(t), r"\s+", " ")))


def strict_mean(value: Column | str) -> Column:
    """NA-poisoning mean — R's ``mean(x)`` DEFAULT (na.rm=FALSE): NULL if
    ANY input is NULL, else the mean. Spark's ``avg`` matches only R's
    na.rm=TRUE form (SURVEY §1.2 semantics gap); this aggregate closes the
    default case: ``count(*) == count(col)`` detects poisoning NULLs with
    zero extra passes. Use inside ``groupBy(...).agg(...)``."""
    v = F.col(value) if isinstance(value, str) else value
    return F.when(F.count(F.lit(1)) == F.count(v), F.avg(v))


def strict_sum(value: Column | str) -> Column:
    """NA-poisoning sum — R's ``sum(x)`` default (na.rm=FALSE): NULL if any
    input is NULL. See ``strict_mean``."""
    v = F.col(value) if isinstance(value, str) else value
    return F.when(F.count(F.lit(1)) == F.count(v), F.sum(v))


def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<double> columns, JVM-side.

    dot(a,b) / (||a||·||b||) via zip_with + aggregate — whole-stage codegen,
    no UDF. Caller should cast float arrays to double first for stable math.
    """
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, v: acc + v * v))
    return dot(a, b) / (na * nb)


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array<double> columns: the left fold
    ((0.0 + a₀b₀) + a₁b₁) + … over zip_with, JVM-side."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def sq_l2(a: Column, b: Column) -> Column:
    """Squared Euclidean distance of two array<double> columns: the left
    fold ((0.0 + d₀²) + d₁²) + … of dᵢ = aᵢ − bᵢ over zip_with, JVM-side."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)), F.lit(0.0), lambda acc, d: acc + d
    )


def exact_percentile(value: Column | str, p: float | Sequence[float]) -> Column:
    """Exact interpolated percentile aggregate, a drop-in for
    ``F.expr("percentile(x, p)")``: a scalar ``p`` gives a double, a
    sequence gives array<double>, and an empty or all-NULL group gives NULL
    in both forms. Use inside ``groupBy(...).agg(...)``.

    Each group collects its non-null values as doubles into one array,
    sorts it once, and reads every ``p`` from that array with Spark's
    interpolation: pos = (n−1)·p; v[floor(pos)] when pos is whole or both
    neighbours are equal, else (ceil−pos)·v[floor] + (pos−floor)·v[ceil].
    ``percentile`` reads its values in IEEE total order (−0.0 before 0.0,
    NaN last). The sort here runs inside a lambda's argument, which Spark
    evaluates without codegen and with SQL ordering, where −0.0 = 0.0, so
    it leaves the zeros in collection order; a zero read from the array
    therefore takes the sign of its rank among the group's zeros. Results
    are bit-identical to ``percentile`` for double inputs, and for
    integral and decimal inputs up to the rounding of distinct values onto
    one double. The expression is composed from Columns, not parsed from
    SQL text: parsing text this nested grew the SQL parser's prediction
    cache, which lives as long as the JVM, by about 4 MB.

    Cost model: this holds every non-null value of a group (8 B each in the
    shuffle) where ``percentile`` holds one boxed (value, count) hash-map
    entry per distinct value and sorts the entries on the reducer. It wins
    on near-distinct columns (about 2.5× on lineitem's prices at sf0.1)
    and loses on duplicate-heavy ones (about 1.6× slower on the 50-valued
    l_quantity), so keep ``percentile`` there. A group over Spark's array
    limit (2^31−15 values) fails; at 100 TB use ``percentile_approx``
    (``approx_sketch_aggs``)."""
    scalar = not isinstance(p, (list, tuple))
    ps = [float(q) for q in ([p] if scalar else p)]
    for q in ps:
        if not 0.0 <= q <= 1.0:
            raise ValueError(f"percentile must be in [0, 1], got {q}")
    v = F.col(value) if isinstance(value, str) else value
    ranked = F.sort_array(F.collect_list(v.cast("double")))

    def at(s: Column, q: Column) -> Column:
        pos = (F.size(s) - 1) * q
        lo, hi = F.floor(pos), F.ceil(pos)
        a, b = s[lo.cast("int")], s[hi.cast("int")]
        # a zero at rank lo of the zero run is -0.0 iff lo falls among the run's -0.0s
        negative_zeros = F.size(F.filter(s, lambda x: x.cast("string") == "-0.0"))
        sign = F.when(lo - F.array_position(s, 0.0) + 1 < negative_zeros, -1.0).otherwise(1.0)
        exact = F.when(a == 0, F.abs(a) * sign).otherwise(a)
        return F.when((lo == hi) | (a == b), exact).otherwise((hi - pos) * a + (pos - lo) * b)

    def pick(s: Column) -> Column:
        if scalar:
            out = at(s, F.lit(ps[0]))
        else:
            out = F.transform(F.array(*[F.lit(q) for q in ps]), lambda q: at(s, q))
        return F.when(F.size(s) > 0, out)

    # the lambda binds the sorted array once, so each group sorts once for all ps
    return F.transform(F.array(ranked), pick)[0]


def to_double_array(col: Column | str) -> Column:
    """Cast array<float> → array<double> elementwise (stable arithmetic)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def morton_interleave(xb: Column | str, yb: Column | str, bits: int = 8) -> Column:
    """Z-order (Morton) code: interleave the low ``bits`` bits of two
    bucket columns into a 2·bits-bit locality-preserving code. Sorting or
    range-partitioning on this code clusters BOTH dimensions
    simultaneously, so parquet min/max stats prune on either key — the
    multi-dimensional data-layout primitive (see `zorder_layout`).
    Pure shift/mask integer expressions, whole-stage-codegen friendly."""
    x = F.col(xb) if isinstance(xb, str) else xb
    y = F.col(yb) if isinstance(yb, str) else yb
    code = F.lit(0)
    for b in range(bits):
        code = code + F.shiftleft(F.shiftright(x, b).bitwiseAND(F.lit(1)), 2 * b)
        code = code + F.shiftleft(F.shiftright(y, b).bitwiseAND(F.lit(1)), 2 * b + 1)
    return code
