"""Projection / column-op / predicate surface (SURVEY.md §2.2 P1-P16).

Everything here is a thin, named composition of Catalyst-native expressions;
nothing shuffles, everything stays inside whole-stage codegen and pushes down
to the scan. The reference implemented several of these as Python row UDFs
(D3/D4 recodes, ``spark/jobs/cases_clinical_spectrum_analysis.py:128-144``);
we write them natively so pushdown and codegen survive.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def select_columns(df: DataFrame, *cols: str | Column) -> DataFrame:
    """P1 — narrow projection (`spark/jobs/cases_time_analysis.py:213`)."""
    return df.select(*cols)


def with_derived(df: DataFrame, **exprs: Column) -> DataFrame:
    """P5 — derived columns, e.g. active = confirmed - deaths - recovered
    (`spark/jobs/cases_time_analysis.py:107-111`)."""
    return df.withColumns(dict(exprs))


def recode_values(
    df: DataFrame, column: str, mapping: Mapping[str, str], default: str | None = None
) -> DataFrame:
    """P9/D4 — dictionary recode. The reference used both ``replace`` and
    row UDFs (`spark/jobs/cases_clinical_spectrum_analysis.py:87,128-144`);
    a single when-chain keeps it codegen'd and pushdown-safe."""
    from pyspark_bigdata_sars_cov_2_analysis_spark.functions.recode import (
        when_chain,
    )

    col = F.col(column)
    expr = when_chain(
        col, mapping, F.lit(default) if default is not None else col
    )
    return df.withColumn(column, expr)


def filter_rows(df: DataFrame, predicate: Column | str) -> DataFrame:
    """P10-P15 — all predicate forms funnel through one operator; Catalyst
    pushes them below projections into the scan."""
    return df.filter(predicate)


def null_profile(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """A7/P16 — single-pass null/NaN count for every column
    (`spark/jobs/cases_clinical_spectrum_analysis.py:220-225`).

    One aggregate job, map-side partial — no per-column passes.
    NaN only applies to float/double columns; others check isNull.
    An explicit empty ``columns`` list is refused loudly rather than
    silently widened to every column (review r15: ``columns or
    df.columns`` conflated [] with None — a dynamically computed subset
    that filtered to nothing profiled the whole table; Spark itself
    accepts a zero-column select, so the guard lives here).
    """
    cols = df.columns if columns is None else columns
    if not cols:
        raise ValueError(
            "null_profile: empty columns list — pass None to profile "
            "every column"
        )
    numeric_floats = {
        f.name for f in df.schema.fields if f.dataType.typeName() in ("double", "float")
    }
    aggs = []
    for c in cols:
        cond = (F.isnan(c) | F.isnull(c)) if c in numeric_floats else F.isnull(c)
        aggs.append(F.count(F.when(cond, c)).alias(c))
    return df.select(aggs)


def spread_compute(
    df: DataFrame, min_bytes: int = 0, key: str | None = None
) -> DataFrame:
    """Widen a narrow scan before CPU-heavy row-local work (X1 family —
    the reference's manual ``repartition(200)`` after the image union,
    `spark/jobs/radiography_analysis.py:102`, made adaptive).

    Small files arrive as one input split, serializing expression-heavy
    stages (hashing, shingling, vector math) onto one core. Repartition to
    the session's default parallelism ONLY when the scan is narrower —
    at real scale inputs already carry enough splits and this is a no-op,
    so the round-robin shuffle only ever moves small data.

    ``min_bytes`` (r10): below this optimizer-estimated input size the
    spread is SKIPPED outright — for a table tiny enough that the
    single-split compute finishes faster than the exchange's fixed cost,
    the "help" is pure overhead (measured on s01's 2k-vector probe
    scoring: ~0.77s spread vs ~0.60s unspread steady-state, the exchange
    + extra stage being the whole difference). Callers whose per-row
    work is heavy relative to row width (shingling over text) keep the
    default 0 (always spread narrow scans); callers whose work scales
    with data volume (vector math) pass the split-size threshold at
    which one core actually becomes the bottleneck. The size probe is
    driver-side plan statistics — no job, and cheaper than the ``.rdd``
    partition probe it short-circuits.

    Known limits (review r9, adjudicated): ``rdd.getNumPartitions()``
    reports the STATIC pre-AQE count, so a post-shuffle frame AQE later
    coalesces to a few partitions still reads as wide and is not
    re-spread — callers feeding expression-heavy work from a shuffle
    output should repartition explicitly. The ``.rdd`` access also
    compiles the physical plan once per call; acceptable at build time,
    not in a loop. Both are left as-is deliberately: an unconditional
    repartition would add an exchange to every consumer's plan (the
    per-query shuffle budgets pin exactly where exchanges may appear)."""
    if min_bytes:
        est = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
        # stat-less plans (local relations, some post-shuffle frames)
        # report the Long.MaxValue sentinel, not a real size (review
        # r15) — treat unknown as "spread" (the pre-r10 default: the
        # exchange is cheap insurance, and every production caller
        # reads parquet where real stats exist and the skip works)
        if est < min_bytes:
            return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        if key is not None:
            # Hash-spread on a caller-named key (optimization r15, guide
            # §2.4/§2.5): a KEYLESS repartition is RoundRobinPartitioning,
            # which (a) pays the hidden sort-before-repartition of the
            # full input rows (SPARK-23207 determinism sort — costly when
            # rows carry document text) and (b) establishes a partitioning
            # no downstream operator can reuse. Hash-partitioning on the
            # key the consumer aggregates by skips the sort AND lets the
            # downstream groupBy/join satisfy its ClusteredDistribution
            # from this same exchange — one shuffle total. Only pass a
            # key with enough distinct values to fill ``target``
            # partitions (a per-document id qualifies; a handful of
            # categories does not — guide §2.5 synthetic-key rule).
            return df.repartition(target, F.col(key))
        return df.repartition(target)
    return df
