"""Sort / limit / top-k surface (SURVEY.md §2.6 O1-O5).

``orderBy().limit(k)`` plans as TakeOrderedAndProject — per-partition heap
top-k + single driver merge, no global sort. That is the only global
ordering pattern that survives 100 TB; plain ``orderBy`` on a huge frame is
reserved for final small results.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def top_k(df: DataFrame, k: int, *order_by: Column | str) -> DataFrame:
    """O3 — top-k (TakeOrderedAndProject). Callers must include a unique
    tiebreaker for determinism (the reference's bare ``limit`` O4 is
    nondeterministic — SURVEY.md §7.3)."""
    return df.orderBy(*order_by).limit(k)


def top_k_resorted(
    df: DataFrame, k: int, order_by: list[Column], display_order: list[Column]
) -> DataFrame:
    """O3 exactly as the reference composes it: top-10 by rate descending,
    re-sorted ascending for display
    (`spark/jobs/cases_time_analysis.py:183-189`)."""
    return df.orderBy(*order_by).limit(k).orderBy(*display_order)


def seeded_split(df: DataFrame, weights: list[float], seed: int = 2020):
    """O5 — ``randomSplit`` pinned to a seed; the reference left one unseeded
    (`spark/jobs/radiography_analysis.py:192`) which is untestable."""
    return df.randomSplit(weights, seed=seed)


def zorder_value(cols: list[Column], bits: int = 12) -> Column:
    """Morton (Z-order) interleave of ``len(cols)`` non-negative integer
    grid coordinates: bit ``i`` of column ``j`` lands at output bit
    ``i * n + j``, so a contiguous z-range covers a compact hyper-rectangle
    neighborhood in EVERY dimension at once. This is the multi-dimensional
    generalization of a 1-D range sort: sorting by the z-value gives
    every output file tight min/max footer stats on ALL interleaved
    columns, so predicates on any subset of them prune row groups — a
    linear sort can only ever serve its leading column. Pure bit arithmetic (shift/and/or), whole-stage
    codegen eligible, no shuffle of its own.

    Callers pass already-quantized coordinates (``0 ≤ v < 2**bits``).
    ``bits * len(cols)`` must stay ≤ 63 to fit a signed BIGINT.
    """
    n = len(cols)
    # ValueError, not assert (review r14): asserts vanish under
    # python -O, and an oversized configuration would silently put the
    # top bit in the sign position — large coordinates sorting BEFORE
    # small ones, wrong clustering with no error
    if n < 2:
        raise ValueError("z-ordering needs at least two dimensions")
    if bits < 1:
        # bits<=0 passed the upper-bound check and yielded a CONSTANT
        # zero z-value — every file spanning every dimension, pruning
        # silently dead (review r15)
        raise ValueError(f"bits must be >= 1, got {bits}")
    if bits * n > 63:
        raise ValueError(
            f"bits*n = {bits * n} > 63: the z-value must fit a signed "
            "64-bit integer — lower bits or interleave fewer columns"
        )
    one = F.lit(1).cast("bigint")
    z = F.lit(0).cast("bigint")
    for i in range(bits):
        for j, c in enumerate(cols):
            bit = F.shiftright(c.cast("bigint"), i).bitwiseAND(one)
            z = z.bitwiseOR(F.shiftleft(bit, i * n + j))
    return z
