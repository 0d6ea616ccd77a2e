"""Pure metric arithmetic for the benchmark: no Spark, no I/O.

Everything here is unit-tested in ``perfbench/tests/test_metrics.py``;
``probes.py`` gathers the raw readings and ``run.py`` feeds them through
these functions.
"""

from __future__ import annotations

import decimal
import math
import random
import statistics


def query_order(names: list[str], seed: int, pass_index: int) -> list[str]:
    """The order of one pass: a permutation of ``names`` fixed by
    (seed, pass_index) alone, so a seed gives the same order on any commit."""
    order = list(names)
    random.Random(f"{seed}:{pass_index}").shuffle(order)
    return order


def median_passes(passes: list[dict[str, float]]) -> dict[str, float]:
    """Per-metric median over passes that all read the same metrics."""
    return {k: statistics.median(p[k] for p in passes) for k in passes[0]}


def sum_into(total: dict[str, float], part: dict[str, float]) -> None:
    """Add every reading of ``part`` into ``total`` (one query into its pass)."""
    for k, v in part.items():
        total[k] = total.get(k, 0) + v


def new_stage_ids(job_stage_ids: list[list[int]], seen: set[int]) -> list[int]:
    """Stage ids of a query's jobs that no earlier query reported.

    A job lists the stages it reuses (skipped, already computed by an
    earlier job) beside the ones it runs, so the same id can come back in
    later jobs; ``seen`` is updated so each stage is counted once."""
    fresh = sorted({s for ids in job_stage_ids for s in ids} - seen)
    seen.update(fresh)
    return fresh


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by the union of half-open [start, end) intervals."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted(i for i in intervals if i[1] > i[0]):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def driver_gap(window: tuple[float, float], intervals: list[tuple[float, float]]) -> float:
    """Time inside ``window`` that no stage interval covers: the driver's
    own share (planning, scheduling, py4j, result handling)."""
    lo, hi = window
    clipped = [(max(s, lo), min(e, hi)) for s, e in intervals]
    return max(0.0, (hi - lo) - union_length(clipped))


def _norm_value(v):
    if v is None:
        return ("\x00null",)
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, float):
        return ("f", "nan") if math.isnan(v) else ("f", round(v, 9))
    if isinstance(v, int):
        return ("f", float(v)) if abs(v) < 2**52 else ("i", v)
    if isinstance(v, decimal.Decimal):
        return ("f", round(float(v), 9))
    return ("s", str(v))


def normalize_rows(columns: list[str], rows: list[tuple]) -> list[tuple]:
    """Columns sorted by name, values normalised, rows sorted: the
    order-insensitive form the repository's parity tests compare."""
    order = sorted(range(len(columns)), key=lambda i: columns[i].lower())
    return sorted(tuple(_norm_value(r[i]) for i in order) for r in rows)


def output_mismatch(got_cols, got_rows, want_cols, want_rows) -> str | None:
    """``None`` when a query's output equals its oracle's, else why not."""
    got_names = sorted(c.lower() for c in got_cols)
    want_names = sorted(c.lower() for c in want_cols)
    if got_names != want_names:
        return f"columns {got_names} != {want_names}"
    if len(got_rows) != len(want_rows):
        return f"row count {len(got_rows)} != {len(want_rows)}"
    bad = sum(a != b for a, b in zip(normalize_rows(got_cols, got_rows), normalize_rows(want_cols, want_rows)))
    return f"{bad} rows differ" if bad else None


def count_failures(outcomes: list[str | None]) -> tuple[int, int]:
    """(attempted, failed) over query executions; an outcome is ``None``
    for a success and a reason string for an exception or a mismatch."""
    return len(outcomes), sum(o is not None for o in outcomes)


def unequal(passes: list[dict[str, float]], keys: tuple[str, ...]) -> list[str]:
    """Keys whose value is not identical across ``passes``."""
    return [k for k in keys if len({p.get(k) for p in passes}) > 1]
