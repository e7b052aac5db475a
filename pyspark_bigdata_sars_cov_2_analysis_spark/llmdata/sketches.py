"""Deterministic, mergeable Count-Min sketch as plain DataFrame algebra.

The sketch family (a15/a17-a20) covers cardinality and quantiles through
Spark's native HLL/theta/GK/KLL aggregates; FREQUENCY estimation (heavy
hitters over an unbounded vocabulary) has no native mergeable aggregate,
so this module builds the classic Count-Min structure [Cormode & Muthu-
krishnan 2005] out of two hash aggregates:

- the sketch IS a DataFrame of ``(cms_row, bucket) -> cell`` counts
  (``depth`` rows × 256 buckets — the bucket is the first 2 hex chars of
  ``md5(row || '|' || item)``, so every engine that has md5 computes the
  SAME sketch: estimates are deterministic and enter the correctness
  hash directly, not just bound booleans);
- merging two sketches is ``union → groupBy → sum`` (property-tested),
  which is the whole point at 100 TB: per-partition/per-day sketches are
  tiny (``depth × 256`` rows), combine associatively, and answer
  frequency queries over arbitrary unions without rescanning tokens;
- estimates are ``min`` over the item's ``depth`` cells — overcount-only
  (est ≥ exact always, property-tested), error bounded by collisions
  with ~N/256 expected mass per bucket and the min over rows shrinking
  the tail.

Callers aggregate exact per-item counts FIRST (one big map-side-combined
shuffle over the token stream); the sketch is then built from the
vocabulary-sized frame, so the depth× expansion never touches the raw
stream (the d02 single-shuffle lesson applied to sketching).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEPTH = 4
WIDTH = 256  # 2 hex chars of md5


def _bucket(row_col, item_col):
    # F.concat, NOT concat_ws (review r15): the documented cross-engine
    # formula is md5(row || '|' || item), and SQL `||` PROPAGATES NULL —
    # concat_ws silently skipped a NULL item, hashing md5(row) alone and
    # depositing the NULL mass into four real buckets that the DuckDB
    # oracle twin (which gets NULL -> no bucket) never touches. With
    # concat, a NULL item yields a NULL bucket in BOTH engines: it forms
    # its own inert cell and can never be probed (estimate joins on the
    # bucket), so the sketches stay bit-identical.
    return F.substring(
        F.md5(F.concat(row_col, F.lit("|"), item_col)), 1, 2
    )


def _rows(depth: int):
    return F.explode(
        F.array(*[F.lit(str(i)) for i in range(depth)])
    ).alias("cms_row")


def countmin_table(
    counts: DataFrame,
    item_col: str,
    count_col: str,
    depth: int = DEPTH,
) -> DataFrame:
    """Build the sketch from PRE-AGGREGATED ``(item, count)`` rows.

    Output: ``(cms_row, bucket, cell)`` — ``depth × 256`` rows max,
    broadcastable.
    """
    e = counts.select(
        F.col(item_col).alias("item"),
        F.col(count_col).alias("cnt"),
        _rows(depth),
    )
    return (
        e.withColumn("bucket", _bucket(F.col("cms_row"), F.col("item")))
        .groupBy("cms_row", "bucket")
        .agg(F.sum("cnt").alias("cell"))
    )


def countmin_estimate(
    cms: DataFrame,
    probes: DataFrame,
    item_col: str,
    depth: int = DEPTH,
) -> DataFrame:
    """Point-frequency estimates for ``probes[item_col]``: min over the
    item's ``depth`` cells. The sketch side is ≤ ``depth × 256`` rows —
    broadcast — so probing is shuffle-free on the sketch side.

    ``depth`` must not EXCEED the sketch's build depth: probing levels
    the sketch never built reads absent rows as zero cells and est collapses to 0 for
    items that ARE in the sketch. Probing SHALLOWER than the build
    depth stays safe (min over fewer cells is still an upper bound)."""
    p = probes.select(F.col(item_col).alias("item"), _rows(depth))
    p = p.withColumn("bucket", _bucket(F.col("cms_row"), F.col("item")))
    j = p.join(F.broadcast(cms), ["cms_row", "bucket"], "left")
    return j.groupBy("item").agg(
        F.min(F.coalesce(F.col("cell"), F.lit(0))).alias("est")
    )
