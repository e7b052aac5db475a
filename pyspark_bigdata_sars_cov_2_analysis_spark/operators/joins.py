"""Join surface (SURVEY.md §2.3).

The reference implements NO joins (verified across all four jobs); this is
green-field capability required by the star-schema test corpus. Strategy
rules encoded here, sized for 100 TB:

- dimension tables (region/nation/supplier/part at TPC-H ratios) are always
  broadcast — ``F.broadcast`` hint, no shuffle of the fact side;
- fact-fact joins (orders⋈lineitem) are shuffle joins on the key; AQE
  handles skew-splitting at runtime;
- semi/anti joins are expressed as real LEFT SEMI / LEFT ANTI (not
  distinct+inner), so Catalyst can push them into the scan side.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _assert_no_reserved(op: str, reserved: Sequence[str], **frames: DataFrame) -> None:
    """Fail fast when an input frame already uses one of an operator's
    internal working-column names — silently clobbering it (or dying later
    with an ambiguous-column error deep in the plan) hides the real cause
    from the caller."""
    for side, df in frames.items():
        clash = sorted(set(df.columns) & set(reserved))
        if clash:
            raise ValueError(
                f"{op}: {side} input columns {clash} collide with internal "
                f"working names (reserved: {sorted(reserved)}); rename them "
                "before calling"
            )


def join_dim(
    fact: DataFrame,
    dim: DataFrame,
    on: str | Sequence[str] | Column,
    how: str = "inner",
) -> DataFrame:
    """Fact ⋈ broadcast(dimension)."""
    return fact.join(F.broadcast(dim), on=on, how=how)


def join_fact(
    left: DataFrame,
    right: DataFrame,
    on: str | Sequence[str] | Column,
    how: str = "inner",
) -> DataFrame:
    """Fact ⋈ fact — shuffle join on the key, AQE skew handling on."""
    return left.join(right, on=on, how=how)


def semi_join(left: DataFrame, right: DataFrame, on) -> DataFrame:
    return left.join(right, on=on, how="left_semi")


def anti_join(left: DataFrame, right: DataFrame, on) -> DataFrame:
    return left.join(right, on=on, how="left_anti")


def latest_per_group_via_join(
    df: DataFrame, keys: list[str], order_col: str
) -> DataFrame:
    """Greatest-row-per-group, join formulation — the semantic twin of
    ``windows.latest_per_group`` (reference idiom W1/P14,
    `spark/jobs/cases_time_analysis.py:158-161`). Kept so tests can verify
    the two formulations agree; the window form avoids re-scanning.

    Keys compare NULL-SAFELY (review r9): ``partitionBy`` and SQL
    ``GROUP BY`` both treat NULL as one group, so the window twin keeps
    a NULL-key group's latest rows — a plain ``==`` join condition would
    silently drop them and the documented equivalence would hold only on
    corpora without NULL keys. The per-group max frame is broadcast: it
    is ONE ROW PER DISTINCT KEY, right for bounded key domains
    (countries, labels); for an unbounded key at scale use the window
    form, which never materializes the maxes at all."""
    maxes = df.groupBy(*keys).agg(F.max(order_col).alias("__max"))
    cond = [df[k].eqNullSafe(maxes[k]) for k in keys]
    cond.append(df[order_col] == maxes["__max"])
    return df.join(F.broadcast(maxes), on=cond, how="inner").select(df["*"])


def _asof_tagged_union(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    right_cols: list[str],
):
    """The tagged union both as-of variants window over (review r14: the
    ~25-line block lived verbatim in :func:`asof_join` and
    :func:`asof_join_nearest`, so a one-sided edit could silently
    diverge the twins both docstrings claim share semantics). Right rows
    carry their whole row as ONE nullable struct ``__r`` (NULL marks a
    left-side row; a non-null struct may still hold NULL attributes —
    per-column fills would tear columns across right rows); right rows
    with a NULL key or NULL ts can never match under the oracle's
    equi+inequality contract and are pre-filtered (review r9). Returns
    ``(both, struct_type)``."""
    row_struct = F.struct(
        F.col(right_ts).alias("__rts"),
        *[F.col(c).alias(c) for c in right_cols],
    )
    right = right.where(
        F.col(on).isNotNull() & F.col(right_ts).isNotNull()
    )
    marked_r = right.select(
        F.col(on).alias("__k"),
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        row_struct.alias("__r"),
    )
    struct_type = marked_r.schema["__r"].dataType
    marked_l = left.select(
        "*",
        F.col(on).alias("__k"),
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__side"),
        F.lit(None).cast(struct_type).alias("__r"),
    )
    both = marked_l.unionByName(
        marked_r.select(
            # cast to the DataType OBJECT: a dtypes simpleString does
            # not round-trip the DDL parser for every type (e.g. a
            # nested field name with a space), review r15
            *[
                F.lit(None).cast(left.schema[c].dataType).alias(c)
                for c in left.columns
            ],
            "__k", "__ts", "__side", "__r",
        )
    )
    return both, struct_type


def _asof_output_guard(
    left: DataFrame, right_ts: str, right_cols: Sequence[str]
) -> None:
    """The as-of twins emit ``{col}_asof`` names; a left column already
    bearing one would either KeyError inside the cogroup's pandas merge
    or emit a duplicate column from the native form (review r15) —
    refuse up front with the module's fail-fast rule."""
    out_names = [f"{c}_asof" for c in right_cols] + [f"{right_ts}_asof"]
    clash = sorted(set(left.columns) & set(out_names))
    if clash:
        raise ValueError(
            f"asof join: left columns {clash} collide with the "
            f"generated output names ({out_names}); rename them before "
            "calling"
        )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    right_cols: Sequence[str] = (),
    tolerance_us: int | None = None,
) -> DataFrame:
    """As-of (nearest-preceding) join: for every left row, attach the
    right row with the LARGEST ``right_ts <= left_ts`` for the same key —
    the time-series primitive Spark's join surface lacks (market-data /
    attribution "latest state as of this event").

    Spark-first formulation: instead of the naive interval join
    (key-equi join + ts inequality → every left row pairs with ALL its
    earlier right rows, then a window keeps one — row explosion is
    O(|left| × avg right history)), tag both sides, UNION them, and run
    ONE ``last(struct, ignorenulls=True)`` over a window partitioned by
    key and ordered by (ts, side). One shuffle on the key, sort within
    partition, zero row fan-out — the same cost shape as a sort-merge
    join, and it survives hot keys with long histories (the explosion
    case) unharmed. The fill carries the whole right row as a single
    STRUCT — filling each column independently would let a NULL attribute
    on the true as-of row fall through to a STALE older row's value and
    tear columns across different right rows. Ties (right_ts == left_ts)
    order the right row first, so a state change AT the event timestamp
    is visible to it, matching DuckDB's ``ASOF JOIN ... ON l.ts >= r.ts``
    (the j06 oracle).

    ``tolerance_us`` (pandas ``merge_asof`` semantics): a match farther
    back than the tolerance is nulled out, not redirected — applied as a
    row-local post-filter, no extra shuffle.

    Right side must be unique per (key, right_ts) — pre-aggregate if not
    (duplicate instants have no deterministic "latest" in either engine).

    NULL semantics mirror the DuckDB oracle's equi+inequality contract
    (review r9): right rows with a NULL key or NULL ``right_ts`` can
    never match (``l.k = r.k`` / ``l.ts >= r.ts`` are never true on
    NULL) and are filtered out up front — unfiltered, a NULL-ts row
    sorts FIRST under Spark's NULLS FIRST ordering and
    ``last(ignorenulls)`` would carry its struct into left rows that
    truly have no preceding match. NULL-key and NULL-ts LEFT rows are
    kept and get NULL as-of columns (left-join semantics: the NULL-key
    partition then contains no right rows, and a NULL ts orders before
    every right row).
    """
    _assert_no_reserved(
        "asof_join", ("__k", "__ts", "__side", "__r", "__a", "__rts"),
        left=left, right=right,
    )
    right_cols = list(right_cols) or [
        c for c in right.columns if c not in (on, right_ts)
    ]
    _asof_output_guard(left, right_ts, right_cols)
    from pyspark.sql import Window

    both, struct_type = _asof_tagged_union(
        left, right, on, left_ts, right_ts, right_cols
    )
    w = (
        Window.partitionBy("__k")
        .orderBy("__ts", "__side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = both.select(
        "*", F.last("__r", ignorenulls=True).over(w).alias("__a")
    ).where(F.col("__side") == 1)
    if tolerance_us is not None:
        in_tol = (
            F.unix_micros(F.col("__ts")) - F.unix_micros(F.col("__a.__rts"))
        ) <= F.lit(tolerance_us)
        filled = filled.select(
            *left.columns,
            F.when(in_tol, F.col("__a")).alias("__a"),
        )
    return filled.select(
        *left.columns,
        *[F.col(f"__a.{c}").alias(f"{c}_asof") for c in right_cols],
        F.col("__a.__rts").alias(f"{right_ts}_asof"),
    )


def asof_join_nearest(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    right_cols: Sequence[str] = (),
    tolerance_us: int | None = None,
) -> DataFrame:
    """As-of join, NEAREST-in-either-direction (pandas ``merge_asof``
    ``direction='nearest'``): for every left row, attach the same-key
    right row minimizing ``|right_ts − left_ts|``; ties (equidistant
    preceding and following) take the PRECEDING row — sensor alignment
    and "closest snapshot to this event" semantics that the
    nearest-preceding :func:`asof_join` can't express when the best
    match may sit in the future.

    Spark-first formulation, r10: the SAME tagged union and the SAME
    one keyed window sort as :func:`asof_join`, read through TWO frames
    — ``last(struct, ignorenulls)`` over (unbounded preceding, current)
    for the backward candidate and ``first(struct, ignorenulls)`` over
    (current, unbounded following) for the forward one — then a
    row-local pick by time distance. Still exactly ONE shuffle and one
    sort, zero row fan-out; the naive form (equi join + |Δ| window)
    explodes every left row against its key's whole history. Equal-ts
    right rows sort before left rows (side ordering) and are therefore
    backward candidates at distance 0, which the tie rule prefers —
    matching the oracle's CASE. ``tolerance_us`` bounds the ACCEPTED
    |Δ| as a row-local post-filter, like ``merge_asof``'s. NULL
    key/ts handling mirrors :func:`asof_join` (NULL right keys/ts can
    never match and are pre-filtered; NULL left keys/ts keep the row
    with NULL match columns)."""
    _assert_no_reserved(
        "asof_join_nearest",
        ("__k", "__ts", "__side", "__r", "__b", "__f", "__n", "__rts"),
        left=left, right=right,
    )
    right_cols = list(right_cols) or [
        c for c in right.columns if c not in (on, right_ts)
    ]
    _asof_output_guard(left, right_ts, right_cols)
    from pyspark.sql import Window

    both, struct_type = _asof_tagged_union(
        left, right, on, left_ts, right_ts, right_cols
    )
    base = Window.partitionBy("__k").orderBy("__ts", "__side")
    w_back = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_fwd = base.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    cand = both.select(
        "*",
        F.last("__r", ignorenulls=True).over(w_back).alias("__b"),
        F.first("__r", ignorenulls=True).over(w_fwd).alias("__f"),
    ).where(F.col("__side") == 1)
    ts_us = F.unix_micros(F.col("__ts"))
    d_back = ts_us - F.unix_micros(F.col("__b.__rts"))
    d_fwd = F.unix_micros(F.col("__f.__rts")) - ts_us
    nearest = (
        # a NULL left ts has no distance to anything — it must keep NULL
        # match columns (the asof_join contract), not fall into the
        # "__b is NULL so take __f" branch: NULLS FIRST ordering puts
        # the row before every right row, making the key's EARLIEST
        # right row its following candidate (review r10, reproduced)
        F.when(F.col("__ts").isNull(), F.lit(None).cast(struct_type))
        .when(F.col("__b").isNull(), F.col("__f"))
        .when(F.col("__f").isNull(), F.col("__b"))
        .when(d_fwd < d_back, F.col("__f"))
        .otherwise(F.col("__b"))  # tie → preceding
    )
    picked = cand.select(*left.columns, nearest.alias("__n"))
    if tolerance_us is not None:
        dist = F.abs(
            F.unix_micros(F.col(left_ts))
            - F.unix_micros(F.col("__n.__rts"))
        )
        picked = picked.select(
            *left.columns,
            F.when(dist <= F.lit(tolerance_us), F.col("__n")).alias("__n"),
        )
    return picked.select(
        *left.columns,
        *[F.col(f"__n.{c}").alias(f"{c}_nearest") for c in right_cols],
        F.col("__n.__rts").alias(f"{right_ts}_nearest"),
    )


def binned_range_join(
    left: DataFrame,
    right: DataFrame,
    left_lo: Column,
    left_hi: Column,
    right_point: Column,
    bin_width_us: int,
) -> DataFrame:
    """Range (interval-containment) join WITHOUT an equi key: match every
    left interval ``[left_lo, left_hi]`` (timestamp expressions) with every
    right row whose ``right_point`` falls inside it.

    Plain Spark executes a pure theta-join like this as
    BroadcastNestedLoopJoin (O(|L|·|R|) comparisons — dead at scale). The
    standard fix, encoded here: quantize time into ``bin_width_us``-wide
    bins, explode each left interval to the bins it covers, tag each right
    point with its single bin, equi-join on the bin, then apply the exact
    containment predicate. Each true pair is found exactly once (the right
    row's one bin is covered at most once per left interval), so no dedup
    pass is needed. Cost: shuffle of |L|·(span/bin_width + 1) + |R| rows
    on the bin key — a sort-merge/hash join Catalyst and AQE can optimize,
    with skew (hot seconds) handled by AQE splitting. Choose
    ``bin_width_us`` on the order of the typical interval span: wider bins
    → fewer exploded rows but more false candidates to filter; narrower →
    the reverse.

    Columns from both sides are kept (caller projects/aggregates); name
    collisions are the caller's to avoid.
    """
    if bin_width_us <= 0:
        # 'us % 0' is NULL under non-ANSI remainder semantics: every
        # left row's bin would be NULL and the join silently empty
        # (review r15)
        raise ValueError(f"bin_width_us must be > 0, got {bin_width_us}")
    _assert_no_reserved(
        "binned_range_join", ("__bin", "__lo", "__hi", "__pt"),
        left=left, right=right,
    )
    lo_us = F.unix_micros(left_lo)
    hi_us = F.unix_micros(left_hi)
    # subtract the remainder before dividing: the numerator becomes an
    # exact multiple of w, so the double division is exact — a raw
    # float-divide-then-cast of a µs epoch (~1.6e15) risks an off-by-one
    # bin on boundary values
    w = F.lit(bin_width_us)

    def to_bin(us: Column) -> Column:
        return ((us - us % w) / w).cast("bigint")

    bins = F.explode(F.sequence(to_bin(lo_us), to_bin(hi_us))).alias("__bin")
    lhs = left.select("*", lo_us.alias("__lo"), hi_us.alias("__hi"), bins)
    pt_us = F.unix_micros(right_point)
    rhs = right.select(
        "*", to_bin(pt_us).alias("__bin"), pt_us.alias("__pt")
    )
    return (
        lhs.join(rhs, on="__bin")
        .where((F.col("__pt") >= F.col("__lo")) & (F.col("__pt") <= F.col("__hi")))
        .drop("__bin", "__lo", "__hi", "__pt")
    )


def asof_join_cogroup(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    right_cols: Sequence[str] = (),
    tolerance_us: int | None = None,
) -> DataFrame:
    """``asof_join`` semantics executed as a cogrouped-pandas
    ``merge_asof`` per key — the Arrow cogroup escape hatch
    (``groupBy().cogroup().applyInPandas``) for when per-key merge logic
    outgrows what window expressions can say (custom interpolation,
    per-key config, multi-column nearest rules).

    Same one-shuffle-per-side cost shape as the native formulation (both
    sides hash-partition on the key; each key's pair of Arrow batches
    meets in one Python worker), but the merge itself runs in pandas —
    so for the plain backward-asof rule prefer ``asof_join`` (stays in
    codegen). Kept as the extensibility seam AND as an executable
    equivalence witness: tested row-identical to ``asof_join`` on the
    events corpus (ties, no-match nulls, tolerance)."""
    _assert_no_reserved("asof_join_cogroup", ("__rts",), left=left, right=right)
    import pandas as pd

    from pyspark.sql.types import StructField, StructType

    right_cols = list(right_cols) or [
        c for c in right.columns if c not in (on, right_ts)
    ]
    _asof_output_guard(left, right_ts, right_cols)
    rtype = {f.name: f.dataType for f in right.schema.fields}
    out_schema = StructType(
        list(left.schema.fields)
        + [StructField(f"{c}_asof", rtype[c]) for c in right_cols]
        + [StructField(f"{right_ts}_asof", rtype[right_ts])]
    )
    lcols = list(left.columns)
    tol = pd.Timedelta(microseconds=tolerance_us) if tolerance_us is not None else None
    # the native twin's NULL rule (review r9): right rows with NULL key
    # or NULL ts can never match — filtering BEFORE the cogroup also
    # empties the NULL-key group's right batch, so NULL-key left rows
    # come back with NULL as-of columns instead of matching each other
    right = right.where(F.col(on).isNotNull() & F.col(right_ts).isNotNull())

    def merge(lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        if lpdf.empty:
            return pd.DataFrame(columns=[f.name for f in out_schema.fields])
        r = rpdf[[right_ts, *right_cols]].rename(
            columns={right_ts: "__rts", **{c: f"{c}_asof" for c in right_cols}}
        )
        # merge_asof REJECTS NaT keys as unsorted (sort_values puts NaT
        # last) — split them out and re-attach as no-match rows, which is
        # what the native form computes for a NULL left_ts (review r9)
        has_ts = lpdf[lpdf[left_ts].notna()]
        no_ts = lpdf[lpdf[left_ts].isna()]
        merged = pd.merge_asof(
            has_ts.sort_values(left_ts, kind="mergesort"),
            r.sort_values("__rts", kind="mergesort"),
            left_on=left_ts,
            right_on="__rts",
            direction="backward",
            allow_exact_matches=True,
            tolerance=tol,
        )
        if len(no_ts):
            merged = pd.concat([merged, no_ts], ignore_index=True)
        return merged.rename(columns={"__rts": f"{right_ts}_asof"})[
            lcols + [f"{c}_asof" for c in right_cols] + [f"{right_ts}_asof"]
        ]

    return (
        left.groupBy(on)
        .cogroup(right.groupBy(on))
        .applyInPandas(lambda lk, rk: merge(lk, rk), out_schema)
    )


def salted_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-mitigating equi-join: the (large, skewed) left side picks a
    deterministic salt in [0, n_salts); the (smaller) right side is
    replicated once per salt value; the join key becomes (key, salt), so a
    hot key's rows spread over ``n_salts`` reducers instead of one.

    AQE's skew-join splitting handles most cases at runtime; this is the
    explicit operator for when the skew is known at authoring time (e.g. a
    null-heavy or celebrity key). Semantics are exactly ``left.join(right,
    left_key == right_key, how)`` — verified by equivalence tests — but
    ONLY for join types where the right side's replication cannot leak:
    inner/left/left_semi. right/full/left_anti would emit each unmatched
    replicated right row ``n_salts`` times (or wrongly suppress left rows),
    so they are rejected. The salt must be deterministic (xxhash64 of the
    whole left row), never rand(): retried tasks must re-derive the same
    salt or the join duplicates/drops rows."""
    if n_salts < 1:
        # pmod(x, 0) is NULL non-ANSI and sequence(0, -1) still yields
        # salts: an inner join silently returned ZERO rows (review r15)
        raise ValueError(f"n_salts must be >= 1, got {n_salts}")
    _assert_no_reserved("salted_join", ("__salt",), left=left, right=right)
    allowed = {"inner", "left", "left_outer", "leftouter", "left_semi", "leftsemi", "semi"}
    if how.lower() not in allowed:
        raise ValueError(
            f"salted_join supports how in {sorted(allowed)}; got {how!r}. "
            "Right/full-outer and anti joins would replicate unmatched "
            "right rows once per salt — use a plain join with AQE skew "
            "handling instead."
        )
    # xxhash64 refuses MapType anywhere in its inputs (Spark >= 3.0) —
    # hash the non-map columns; map-bearing frames stay usable and the
    # salt still spreads on everything hashable (review r15)
    hashable = [c for c, t in left.dtypes if "map<" not in t]
    if not hashable:
        raise ValueError(
            "salted_join: every left column is map-typed — xxhash64 "
            "cannot derive a deterministic salt; add a hashable column"
        )
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in hashable]), F.lit(n_salts))
    lhs = left.withColumn("__salt", salt.cast("int"))
    salts = F.explode(
        F.sequence(F.lit(0), F.lit(n_salts - 1))
    ).alias("__salt")
    rhs = right.select("*", salts)
    out = lhs.join(
        rhs,
        on=(lhs[left_key] == rhs[right_key])
        & (lhs["__salt"] == rhs["__salt"]),
        how=how,
    )
    return out.drop("__salt")
