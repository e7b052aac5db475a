"""Native rewrites of the reference's row-UDF recodes (SURVEY.md §2.9 D3/D4).

The reference round-tripped every row through a Python worker for trivial
conditionals (``is_positive``/``is_negative``/``transform_result``,
spark/jobs/cases_clinical_spectrum_analysis.py:267-292; ``classify``,
spark/jobs/radiography_analysis.py:357-378). Each becomes a when-chain —
codegen'd, pushdown-safe, zero serialization.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column
from pyspark.sql import functions as F


def binary_indicator(col: Column, positive_value: str) -> Column:
    """str → 1/0 (ref ``is_positive``/``is_negative``)."""
    return F.when(col == positive_value, F.lit(1)).otherwise(F.lit(0)).cast("bigint")


def when_chain(col: Column, mapping: Mapping, otherwise: Column) -> Column:
    """The one when-chain builder every dictionary recode shares
    (review r15: three hand-rolled copies — label_from_code,
    fuzzy_recode's scaffold, operators.relational.recode_values — had
    already drifted in guard style and defaults). ValueError, not
    assert: asserts vanish under ``python -O`` and the failure degrades
    to ``NoneType has no attribute 'otherwise'``."""
    expr: Column | None = None
    for k, v in mapping.items():
        expr = F.when(col == k, v) if expr is None else expr.when(col == k, v)
    if expr is None:
        raise ValueError("empty recode mapping")
    return expr.otherwise(otherwise)


def label_from_code(col: Column, mapping: Mapping[int | str, str], default: str = "unknown") -> Column:
    """code → class name (ref ``classify``/``transform_result``)."""
    return when_chain(col, mapping, F.lit(default))


def rate_percent(numer: Column, denom: Column, decimals: int = 2) -> Column:
    """Compat-rounded ``numer/denom*100`` — the mortality/recovery-rate
    expression (ref: spark/jobs/cases_time_analysis.py:183-189), in the
    exact operand order the cases_time golden outputs pin. Uses the
    compat floor-round, NOT ``F.round`` (review r9): native round is
    HALF_UP/half-even depending on type and disagrees with the
    DuckDB/compat grid on half-boundary doubles."""
    from pyspark_bigdata_sars_cov_2_analysis_spark.functions.compat import (
        pround,
    )

    return pround(numer / denom * 100.0, decimals)


def fuzzy_recode(
    col: Column,
    canonical: list[str],
    max_dist: int = 2,
) -> Column:
    """Map a dirty categorical to its nearest canonical value by edit
    distance — the data-cleaning twin of the exact recodes above: typo'd
    category values ('clik', 'viw') snap to the closest entry of
    ``canonical`` when within ``max_dist`` edits, otherwise pass through
    unchanged (never silently relabel something far from every
    canonical). Ties break by CANONICAL LIST ORDER (first match wins),
    which is deterministic and expressible identically in SQL, unlike a
    struct-min argmin whose tiebreak would be value order. Pure
    JVM ``levenshtein`` when-chain — row-local, codegen'd, no shuffle;
    cost is O(len(canonical)) distance evaluations per row, so keep the
    canonical list small (it's a category dictionary, not a corpus)."""
    if not canonical:
        raise ValueError("fuzzy_recode needs a non-empty canonical list")
    dists = [F.levenshtein(col, F.lit(c)) for c in canonical]
    mind = F.least(*dists) if len(dists) > 1 else dists[0]
    conds = [(d == mind) & (mind <= max_dist) for d in dists]
    expr = F.when(conds[0], canonical[0])
    for c, cond in zip(canonical[1:], conds[1:]):
        expr = expr.when(cond, c)
    return expr.otherwise(col)
