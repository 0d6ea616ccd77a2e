"""Physical-plan introspection: assert the plans we designed for are the
plans Catalyst actually produces (pushdown reached the scan, dimensions
broadcast, shuffle counts bounded) — the 100 TB design contract, checked
mechanically in tests rather than by eyeballing .explain output. It also
owns the execution mechanics operators share: scratch caches, lineage
cuts, observed metrics, the ``fixpoint`` loop primitive and scoped
session confs.
"""

from __future__ import annotations

import re
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


@dataclass
class PlanSummary:
    n_exchanges: int  # shuffle boundaries
    n_broadcast_joins: int
    n_sortmerge_joins: int
    pushed_filters: list[str]  # non-empty PushedFilters specs per scan
    read_schemas: list[str]  # ReadSchema per scan (column pruning evidence)
    n_codegen_stages: int
    text: str


def plan_summary(df: DataFrame) -> PlanSummary:
    qe = df._jdf.queryExecution()  # type: ignore[attr-defined]
    jvm = df._sc._jvm  # type: ignore[attr-defined]
    text = jvm.PythonSQLUtils.explainString(qe, "formatted")
    codegen_text = jvm.PythonSQLUtils.explainString(qe, "codegen")
    # count only the numbered detail-section nodes — the tree header would
    # double-count every operator
    node = lambda name: len(re.findall(rf"^\(\d+\) {name}\b", text, re.MULTILINE))
    m = re.search(r"Found (\d+) WholeStageCodegen subtrees", codegen_text)
    return PlanSummary(
        n_exchanges=node("Exchange") + node("AQEShuffleRead") * 0,
        n_broadcast_joins=node("BroadcastHashJoin") + node("BroadcastNestedLoopJoin"),
        n_sortmerge_joins=node("SortMergeJoin"),
        pushed_filters=[m2 for m2 in re.findall(r"PushedFilters: \[([^\]]*)\]", text) if m2.strip()],
        read_schemas=re.findall(r"ReadSchema: struct<([^>]*)>", text),
        n_codegen_stages=int(m.group(1)) if m else 0,
        text=text,
    )


# Tables that are corpus/fact-sized at the 100 TB target (TESTDATA.md):
# broadcasting an UNREDUCED scan of one of these is a scale defect even
# when the local fixture is tiny. Dimension tables (region/nation/customer/
# supplier/part) may broadcast freely.
FACT_TABLES = ("lineitem", "orders", "events", "documents", "embeddings")

# Column-name heuristics for UNBOUNDED-cardinality columns. Two lists
# because the bound semantics differ by node type:
#   * AGGREGATE grouping keys: a word/token/n-gram keyed rollup is
#     "reducing" relationally but its output grows with corpus size
#     (Heaps' law) — and so does any per-document/per-vector key — so
#     both text-domain and corpus-id names disqualify an aggregate from
#     counting as a cardinality BOUND (the hole that let the round-8
#     tokenizer word-dictionary broadcasts through).
#   * FILTER conditions: a literal comparison on an id (``vec_id < 5``)
#     or a rank column IS a bound, so only text-domain names disqualify
#     a filter — a sentinel/pattern predicate on the word column itself
#     (``NOT w LIKE ...``) shrinks without bounding.
# Matched against attribute NAMES (the #id suffix and qualifier stripped).
_UNBOUNDED_TEXT_RE = re.compile(
    r"^(w|wd|word|words|tok|toks|token|tokens|piece|pieces|gram|grams|ngram|"
    r"ngrams|shingle|shingles|term|terms|text|mword|[wbtu]\d+)$",
    re.IGNORECASE,
)
_UNBOUNDED_AGG_KEY_RE = re.compile(
    r"^(w|wd|word|words|tok|toks|token|tokens|piece|pieces|gram|grams|ngram|"
    r"ngrams|shingle|shingles|term|terms|text|mword|[wbtu]\d+|fingerprint|"
    r"hash|sig|chunk_hash|doc_id|vec_id|event_id)$",
    re.IGNORECASE,
)

_ATTR_RE = re.compile(r"([A-Za-z_][A-Za-z0-9_]*)#\d+")

# \b so an identifier merely ENDING in "isnan"/"isnotnull" (e.g. a column
# named ``col_isnan``) is not treated as a null-check call opener.
_NULLCHECK_CALL_RE = re.compile(r"\b(?:isnotnull|isnan)\(", re.IGNORECASE)


def _agg_keys(node) -> list[str] | None:
    """Grouping-key attribute names of an Aggregate physical node, or None
    if they can't be parsed (treated as UNBOUNDED by ``_is_reducing`` —
    the safe direction for an audit; a truncated keys=[...] list must
    never let a wide word-keyed aggregate pass as a cardinality bound).
    maxFields is large enough that no registered plan's key list
    truncates in practice."""
    s = node.simpleString(65536)
    m = re.search(r"keys=\[([^\]]*)\]", s)
    if m is None:
        return None
    return [a for a in _ATTR_RE.findall(m.group(1))]


def _jlist(jseq):
    return [jseq.apply(i) for i in range(jseq.size())]


def _walk(node):
    yield node
    for child in _jlist(node.children()):
        yield from _walk(child)


def _is_reducing(node) -> bool:
    """Does this physical node BOUND its input cardinality (not merely
    shrink it)?

    Limits and top-k always do. An Aggregate does UNLESS it is keyed on
    an unbounded-cardinality column (word/token/n-gram/doc_id/... — see
    ``_UNBOUNDED_KEY_RE``): a distinct-word rollup of a 100 TB corpus is
    O(10^8-10^9) rows by Heaps' law, so "reducing" in the relational
    sense is not "bounded" — the hole that let the round-8 tokenizer
    word-dictionary broadcasts through. A Filter counts only when its
    condition has predicates beyond null/NaN checks AND references at
    least one column that is not itself unbounded-named — join-key
    ``isnotnull`` residuals are planner noise (round 6's
    ``hard_negative_mining``), and a sentinel/pattern filter on the word
    column itself (``NOT w LIKE ...``) shrinks without bounding; a rank
    filter (``rk <= 4096``) or a dimension predicate (``source = 'x'``)
    still counts.
    """
    name = node.nodeName()
    if "Limit" in name or "TakeOrdered" in name:
        return True
    if "Aggregate" in name:
        keys = _agg_keys(node)
        if keys is None:
            # unparseable keys (e.g. simpleString truncation) must fail
            # toward UNBOUNDED — the permissive direction would let a
            # wide word-keyed aggregate pass the broadcast contract
            return False
        return not any(_UNBOUNDED_AGG_KEY_RE.match(k) for k in keys)
    if name == "Filter":
        cond = node.simpleString(65536)
        cond = cond.split("Filter", 1)[1] if "Filter" in cond else cond
        stripped = _strip_nullcheck_calls(cond)
        if re.sub(r"\bAND\b|\bOR\b|\bNOT\b|[()\s]", "", stripped) == "":
            return False
        # Null/NaN-check predicates are stripped FIRST (paren-balanced,
        # so ``isnotnull(coalesce(a, b))`` removes the whole call, not
        # just up to the first ')'): join-residual ``isnotnull(doc_id)``
        # noise must not rescue a condition whose only REAL predicate is
        # a text sentinel (``NOT contains(w, ...)``) — the
        # all-text-named test applies to the remaining predicates.
        attrs = _ATTR_RE.findall(stripped)
        if attrs and all(_UNBOUNDED_TEXT_RE.match(a) for a in attrs):
            return False
        return True
    return False


def _strip_nullcheck_calls(cond: str) -> str:
    """Remove every ``isnotnull(...)``/``isnan(...)`` call from a condition
    string, matching parentheses so nested calls
    (``isnotnull(coalesce(src#3, dst#4))``) are removed WHOLE — a
    ``[^)]*`` regex would stop at the first ')' and leave attribute
    tokens behind, wrongly rescuing a text-sentinel filter as a bound
    (the permissive direction for the broadcast audit)."""
    out, i, n = [], 0, len(cond)
    while i < n:
        m = _NULLCHECK_CALL_RE.search(cond, i)
        if m is None:
            out.append(cond[i:])
            break
        out.append(cond[i : m.start()])
        depth, j = 1, m.end()
        while j < n and depth:
            if cond[j] == "(":
                depth += 1
            elif cond[j] == ")":
                depth -= 1
            j += 1
        i = j
    return "".join(out)


def _fact_scans(node) -> list[str]:
    if node.children().size() == 0:
        leaf = node.toString()
        return [t for t in FACT_TABLES if f"{t}.parquet" in leaf or f"/{t}" in leaf]
    return []


def broadcast_audit(df: DataFrame) -> list[str]:
    """Mechanical 100 TB broadcast contract over the STATIC physical plan.

    Returns a list of human-readable violations (empty == clean):
      * any ``CartesianProduct`` node (an unhinted cross join — at scale
        that is corpus x corpus);
      * any broadcast build side (including a BroadcastNestedLoopJoin's —
        the 1-row scalar-stat and bounded-anchor-set patterns are fine)
        that scans a FACT table (corpus-sized at the 100 TB target) with
        no cardinality-reducing node in between — a multi-GB executor
        copy at scale regardless of fixture size.

    Run it under ``spark.sql.autoBroadcastJoinThreshold=-1`` so the only
    broadcasts left in the plan are EXPLICIT hints (size-based
    auto-broadcasts are fixture-scale artifacts AQE re-decides at runtime;
    hints are design decisions that survive to the cluster).
    """
    # sparkPlan() is the static plan BEFORE EnsureRequirements runs, so it
    # has no BroadcastExchange nodes yet — the broadcast decision lives on
    # the join node itself (buildSide), which is what we inspect.
    root = df._jdf.queryExecution().sparkPlan()  # type: ignore[attr-defined]
    violations: list[str] = []
    for node in _walk(root):
        name = node.nodeName()
        if "CartesianProduct" in name:
            violations.append("CartesianProduct node in plan")
        elif name.startswith("Broadcast") and "Join" in name:
            children = _jlist(node.children())
            if len(children) != 2:
                continue
            build = children[0] if "BuildLeft" in str(node.buildSide()) else children[1]
            if not any(_is_reducing(n) for n in _walk(build)):
                facts = sorted({t for n in _walk(build) for t in _fact_scans(n)})
                if facts:
                    violations.append(
                        f"{name} build side scans fact table(s) {facts} with no "
                        "cardinality-reducing node (filter/aggregate/limit) in between"
                    )
    return violations


# Scratch-cache registry (optimization r16, guide §5 "unpersist when done"
# + VERDICT r15 item 2): operators persist intermediates that self-joins /
# multi-consumer tails re-read, but a lazily returned DataFrame gives the
# operator no post-action hook to unpersist — so every persist leaked for
# the session lifetime, and the bench's min-of-2 second rep silently read
# the first rep's materialized cache instead of doing per-run work. Every
# operator-scratch persist now registers here; harnesses (bench.py between
# reps, tools/query_profile.py, tools/driver_sim.py between queries) call
# ``release_scratch_caches()`` after each terminal action. Long-lived
# sessions embedding these operators should do the same once downstream
# actions on the returned frames have run.
_SCRATCH_CACHES: list[DataFrame] = []


def scratch_persist(df: DataFrame, storage_level=None) -> DataFrame:
    """``df.persist()`` + registration for ``release_scratch_caches()``."""
    df = df.persist() if storage_level is None else df.persist(storage_level)
    _SCRATCH_CACHES.append(df)
    return df


def release_scratch_caches() -> int:
    """Unpersist every registered scratch cache (blocking=False); returns
    how many were released. Safe to call with a stopped/replaced session —
    release failures are swallowed (the JVM-side cache dies with the
    session anyway)."""
    n = 0
    while _SCRATCH_CACHES:
        df = _SCRATCH_CACHES.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass
    return n


def cut_lineage(df: DataFrame) -> DataFrame:
    """``localCheckpoint`` + plan-statistics reset, for iterative algorithms.

    ``Dataset.localCheckpoint`` truncates the lineage but copies the child
    plan's ``sizeInBytes`` statistic into the resulting ``LogicalRDD``.
    Join-heavy iterative plans then MULTIPLY those carried BigIntegers every
    round (``SizeInBytesOnlyStatsPlanVisitor.visitJoin``), so the stat's
    digit count grows geometrically with the iteration count and the driver
    ends up burning unbounded CPU on BigInteger Karatsuba/Toom-Cook math
    (observed: 3× digits and ~3× planning time per sweep in Louvain by
    sweep 15). Rebuilding the DataFrame over the already-checkpointed
    internal RDD drops the carried stat to the bounded default; AQE
    re-derives true sizes at runtime, so join strategies are unaffected.

    Falls back to the plain checkpoint if the internal constructor moves.
    """
    ck = df.localCheckpoint()
    try:
        spark = ck.sparkSession
        jrdd = ck._jdf.queryExecution().toRdd()  # type: ignore[attr-defined]
        jdf = spark._jsparkSession.internalCreateDataFrame(  # type: ignore[attr-defined]
            jrdd, ck._jdf.schema(), False  # type: ignore[attr-defined]
        )
        return DataFrame(jdf, spark)
    except Exception:
        return ck


def observed_cut(df: DataFrame, *metrics) -> tuple[DataFrame, dict]:
    """``cut_lineage`` that also returns aggregate ``metrics`` over the
    materialized rows, observed on the checkpoint job itself — a
    driver-side scalar that costs no extra action. The returned dict
    always carries the row count as ``n``."""
    obs = Observation()
    cut = cut_lineage(df.observe(obs, F.count(F.lit(1)).alias("n"), *metrics))
    return cut, obs.get


# ``fixpoint(..., until=SAME_STATE)``: stop when a round leaves the state unchanged
SAME_STATE = "same_state"


def fixpoint(step, state: DataFrame, max_iter: int, metrics=(), until=None):
    """The loop primitive of every iterative operator: at most ``max_iter``
    rounds of ``state <- step(state, round)``, each materialized by one
    ``observed_cut`` so plans stay round-local and the round's driver-side
    scalars ride its checkpoint job (exactly one Observation per round;
    besides that job, fixpoint itself runs only the ``SAME_STATE``
    probe).

    ``step`` returns the next state, which may carry extra columns for
    ``metrics`` (aggregate Columns) to read — the state itself keeps the
    columns of the initial ``state`` — or None to end the loop without a
    new state. The loop also ends when ``until`` says so:

    * None — never: fixed rounds (or the step's own None);
    * a callable — called with the round's observed metrics (the
      ``observed_cut`` dict), returns True to stop;
    * ``SAME_STATE`` — the new state equals the previous round's, decided
      exactly: every round observes two free set-fingerprint metrics,
      the row count and the ``bit_xor`` of ``xxhash64`` over the state
      columns (order-independent and overflow-free — a long SUM would
      trip ANSI overflow). While the fingerprint differs from the
      previous round's the state provably changed and the round pays no
      extra job; only on a match does an exact ``limit(1)`` anti-join
      probe confirm that every new row is in the previous state — with
      equal row counts and no duplicate rows that inclusion is equality
      — so termination never rests on the hash (a colliding fingerprint
      on a changed state just runs the probe, sees the change and
      continues). The probe is skipped on the last allowed round, where
      the loop ends anyway. States must be row sets (no duplicate rows),
      and the first round — which has no observed predecessor — never
      stops.

    Returns (final state, metrics of the last round — {} if none ran)."""
    cols = state.columns
    same = until == SAME_STATE
    fingerprint = [F.expr(f"bit_xor(xxhash64({', '.join(cols)}))").alias("__h")] if same else []
    observed: dict = {}
    for it in range(max_iter):
        nxt = step(state, it)
        if nxt is None:
            break
        cut, m = observed_cut(nxt, *fingerprint, *metrics)
        nxt = cut.select(*cols)
        if same:
            stop = (
                bool(observed)
                and it + 1 < max_iter
                and (m["n"], m["__h"]) == (observed["n"], observed["__h"])
                and not nxt.join(state, cols, "left_anti").limit(1).count()
            )
        else:
            stop = until is not None and until(m)
        state, observed = nxt, m
        if stop:
            break
    return state, observed


@contextmanager
def scoped_conf(spark, key: str, value: str):
    """Set a session conf for the duration of the block; the previous value
    is restored on exit, also when the block raises."""
    prev = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, prev)


@contextmanager
def interpreted_execution(spark, n_rows: int | None = None, rows_threshold: int = 100_000):
    """Temporarily disable whole-stage codegen for plans over MEASURED
    small data — the codegen twin of ``scaled_shuffle_partitions``.

    One-shot plans (iterative sweeps with per-iteration literals and
    fresh checkpoint sources, bounded certificate pipelines) each compile
    a unique Java class that executes exactly once over a few thousand
    rows — measured ~1.6 s of driver-side compile latency per Louvain
    run at sf0.1 against ~0 execution benefit. Codegen pays for itself
    only when the compile amortizes over real data volume, so this guard
    is MEASUREMENT-GATED: pass the observed row count and it is a
    strict NO-OP when ``n_rows >= rows_threshold`` — corpus-scale plans
    always keep codegen. Omit ``n_rows`` only where boundedness is
    structural (e.g. an already-guarded loop body). Conf restored on
    exit."""
    if n_rows is not None and n_rows >= rows_threshold:
        yield
        return
    with scoped_conf(spark, "spark.sql.codegen.wholeStage", "false"):
        yield


@contextmanager
def scaled_shuffle_partitions(spark, n_rows: int, rows_per_partition: int = 100_000):
    """Temporarily size ``spark.sql.shuffle.partitions`` from a MEASURED
    row count, for iterative/multi-join algorithms over bounded data.

    The session default is sized for corpus-scale scans; an iterative
    algorithm that shuffles the same small graph dozens of times would pay
    scheduling for hundreds of near-empty tasks per sweep (AQE coalesces
    post-shuffle reads, but each pre-coalesce stage still schedules the
    full task count). On real 100 TB inputs ``n_rows/rows_per_partition``
    exceeds the session setting and this is a NO-OP — it only ever shrinks
    parallelism for provably small inputs, never grows past the session's
    choice. Floor of 2 partitions: a single partition serializes the whole
    multi-stage chain onto one core (measured ~+40% on the Louvain sweeps
    vs 2). Conf restored on exit.
    """
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    parts = min(int(prev), max(2, -(-max(n_rows, 1) // rows_per_partition)))
    parts = max(parts, 1)
    with scoped_conf(spark, "spark.sql.shuffle.partitions", str(parts)):
        yield parts
