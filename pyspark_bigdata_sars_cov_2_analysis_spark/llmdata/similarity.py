"""Similarity search over an embedding column (LLM-data surface).

Two paths:
- brute-force cosine top-k — the correctness baseline. Probe set is
  broadcast; candidates stream once; per-probe top-k via window row_number
  (no global sort, no collect);
- LSH-bucketed top-k — the 100 TB scale path: a sign-bit bucket (random
  hyperplane family ≈ first ``m`` dimension signs) partitions candidates so
  each probe only scans its bucket. At scale the bucket id becomes the
  partition key of a pre-bucketed parquet layout, turning ANN into a
  partition-pruned scan.

All arithmetic is JVM-native (zip_with + aggregate over array<double>);
cosines are rounded BEFORE ranking so rank order is stable across engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pyspark_bigdata_sars_cov_2_analysis_spark.functions.compat import pround
from pyspark_bigdata_sars_cov_2_analysis_spark.operators.relational import spread_compute

# Vector math scales with data VOLUME, so a narrow scan only bottlenecks
# one core once a split actually carries substantial bytes — below this,
# the spread exchange's fixed cost exceeds the whole single-split compute
# (measured on s01's 2k-vector probe scoring: ~0.60s unspread vs ~0.77s
# spread steady-state). Half a default 128 MB split: one core chewing
# more than that is slower than one round-robin exchange.
_SPREAD_MIN_BYTES = 64 << 20


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def _score_rank_topk(joined: DataFrame, k: int, decimals: int) -> DataFrame:
    """Shared tail of the three top-k paths (exact / sign-bucket / IVF):
    drop self-matches, score each candidate pair with the hoisted-norm
    cosine, round BEFORE ranking (cross-engine rank stability), rank per
    query with the neighbor-id tiebreak, keep k. ONE definition (review
    r9) so the ranking contract — tiebreak order, rounding grid, rank
    dtype — cannot drift between the exact baseline and the ANN paths
    it is the recall yardstick for. ``joined`` carries (query_id, q, nq)
    × (neighbor_id, v, nv)."""
    # try_divide (review r15): a zero-norm vector made plain `/` raise
    # DIVIDE_BY_ZERO under ANSI; NULL matches DuckDB's x/0.0 and the
    # NULLS-LAST-under-DESC ranking contract documented at _cell_cmp
    scored = joined.where(F.col("neighbor_id") != F.col("query_id")).select(
        "query_id",
        "neighbor_id",
        pround(
            F.try_divide(
                _dot(F.col("q"), F.col("v")), F.col("nq") * F.col("nv")
            ),
            decimals,
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= k)
    )


def brute_force_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    probe_ids: list[int],
    k: int = 5,
    decimals: int = 4,
) -> DataFrame:
    """Exact top-k cosine neighbors for each probe id.

    Output: (query_id, neighbor_id, cos_sim, rank). Self-matches excluded.
    Cosine is rounded to ``decimals`` before ranking; ties break on
    neighbor id — fully deterministic.
    """
    # Norms are computed once per vector here, not once per pair — the
    # per-pair expression is a single dot product (same arithmetic, same
    # bits: sqrt(dot(v,v)) is evaluated identically, just hoisted).
    vec = F.col(vec_col).cast("array<double>")
    vecs = spread_compute(df, _SPREAD_MIN_BYTES, key=id_col).select(
        F.col(id_col).alias("neighbor_id"),
        vec.alias("v"),
        _norm(vec).alias("nv"),
    )
    probes = (
        df.where(F.col(id_col).isin(probe_ids))
        .select(
            F.col(id_col).alias("query_id"),
            vec.alias("q"),
            _norm(vec).alias("nq"),
        )
    )
    return _score_rank_topk(vecs.crossJoin(F.broadcast(probes)), k, decimals)


def sign_bucket(vec: Column, m: int = 8) -> Column:
    """LSH bucket id from the sign bits of the first ``m`` dimensions —
    a fixed random-hyperplane family (axis-aligned planes). Returns bigint
    in [0, 2^m)."""
    # try_element_at (review r15): a vector shorter than m raised
    # INVALID_ARRAY_INDEX under ANSI; NULL > 0 is NULL -> bit 0, the
    # exact semantics of the DuckDB oracle twin (out-of-range list
    # access is NULL there too), so short vectors hash with zero bits
    # for their missing dimensions in BOTH engines
    bits = [
        F.when(
            F.try_element_at(vec, F.lit(i + 1)) > 0,
            F.lit(2**i).cast("bigint"),
        ).otherwise(F.lit(0).cast("bigint"))
        for i in range(m)
    ]
    return sum(bits[1:], bits[0])


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.35,
    m: int = 4,
    decimals: int = 4,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (the dedup-by-embedding family).

    Candidates = pairs sharing a sign bucket (LSH recall trade: a pair with
    opposite signs in the first ``m`` dims is missed — acceptable for
    near-dup candidates since high-cosine pairs mostly agree on signs).
    At 100 TB the bucket is the shuffle key; within-bucket comparison is
    quadratic only in bucket size."""
    vec = F.col(vec_col).cast("array<double>")
    base = spread_compute(df, _SPREAD_MIN_BYTES, key=id_col).select(
        F.col(id_col).alias("vid"),
        vec.alias("v"),
        _norm(vec).alias("nrm"),
        sign_bucket(vec, m).alias("bucket"),
    )
    v = base.select(
        F.col("vid").alias("id_a"),
        F.col("v").alias("va"),
        F.col("nrm").alias("na"),
        "bucket",
    )
    w2 = base.select(
        F.col("vid").alias("id_b"),
        F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
        "bucket",
    )
    pairs = (
        v.join(w2, on="bucket")
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            # try_divide: zero-norm -> NULL -> fails the threshold
            # filter below, in both engines (review r15)
            pround(
                F.try_divide(
                    _dot(F.col("va"), F.col("vb")),
                    F.col("na") * F.col("nb"),
                ),
                decimals,
            ).alias("cos_sim"),
        )
    )
    return pairs.where(F.col("cos_sim") >= threshold)


def bucketed_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    probe_ids: list[int],
    k: int = 5,
    m: int = 8,
    decimals: int = 4,
) -> DataFrame:
    """ANN top-k: candidates restricted to the probe's sign bucket.

    Recall < 1 by construction (that's the ANN trade); at 100 TB the bucket
    column is the layout partition key so each probe reads ~1/2^m of data.
    """
    vec = F.col(vec_col).cast("array<double>")
    base = spread_compute(df, _SPREAD_MIN_BYTES, key=id_col).select(
        F.col(id_col).alias("neighbor_id"),
        vec.alias("v"),
        _norm(vec).alias("nv"),
        sign_bucket(vec, m).alias("bucket"),
    )
    probes = (
        df.where(F.col(id_col).isin(probe_ids))
        .select(
            F.col(id_col).alias("query_id"),
            vec.alias("q"),
            _norm(vec).alias("nq"),
            sign_bucket(vec, m).alias("bucket"),
        )
    )
    return _score_rank_topk(
        base.join(F.broadcast(probes), on="bucket"), k, decimals
    )


def _centroid_codebook(
    df: DataFrame, id_col: str, vec_col: str, n_centroids: int
) -> DataFrame:
    """ONE-ROW frame holding the IVF codebook as data: the ``n_centroids``
    ``(cid, c, nc)`` structs collected into a ``cents`` array. Centroids
    are the vectors with id < n_centroids — the deterministic stand-in for
    a k-means codebook trained offline. Collecting the codebook into a row
    makes cell assignment a ROW-LOCAL expression over the big side (one
    broadcast, zero shuffles) instead of a per-vector window shuffle plus
    a full-table join-back — the shape that survives 100 TB, where the
    codebook is KBs and the vectors are the corpus. ``collect_list`` order
    is nondeterministic, which is fine: every consumer re-sorts or argmaxes
    under the total (d DESC, cid ASC) order."""
    vec = F.col(vec_col).cast("array<double>")
    return (
        df.where(F.col(id_col) < n_centroids)
        .select(
            F.col(id_col).alias("cid"), vec.alias("c"), _norm(vec).alias("nc")
        )
        .agg(F.collect_list(F.struct("cid", "c", "nc")).alias("cents"))
    )


def _scored_cells(v: Column, nv: Column, assign_decimals: int) -> Column:
    """Per-row array of ``(d, cid)`` structs: rounded cosine of the row's
    vector against every codebook centroid (row-local ``transform`` over
    the broadcast ``cents`` array — same arithmetic as the former
    crossJoin formulation, same pround grid)."""
    return F.transform(
        F.col("cents"),
        lambda ct: F.struct(
            pround(
                F.try_divide(_dot(v, ct["c"]), nv * ct["nc"]),
                assign_decimals,
            ).alias("d"),
            ct["cid"].alias("cid"),
        ),
    )


def _best_cell_cid(scored: Column) -> Column:
    """ARGMAX of a ``(d, cid)`` struct array under (d DESC NULLS LAST,
    cid ASC) — the cell-assignment tiebreak order — as ONE native
    ``array_max`` pass instead of a full ``array_sort`` with a lambda
    comparator (optimization r16, guide §4.1: the comparator is an
    interpreted expression tree invoked O(n log n) times per row on the
    ALL-VECTORS side; array_max's struct ordering is a single native
    scan). Mapping: max over ``(d, -cid)`` structs picks greatest d
    first — Spark's struct ordering puts a NULL field below any value
    (= NULLS LAST under the DESC read) and NaN above every double,
    matching the comparator's eqNullSafe/NaN branches — then greatest
    ``-cid``, i.e. the SMALLEST cid, on ties (including the all-NULL-d
    row, where the comparator also fell through to cid ASC).
    Equivalence pinned by test on NULL/NaN/tie adversarial arrays.
    Returns the winning cid (NULL only for an empty array — callers
    guard on codebook size)."""
    return -F.array_max(
        F.transform(
            scored,
            lambda s: F.struct(s["d"].alias("d"), (-s["cid"]).alias("negcid")),
        )
    )["negcid"]


def _cell_cmp(a: Column, b: Column) -> Column:
    """array_sort comparator for (d DESC NULLS LAST, cid ASC) — the exact
    total order the former ``row_number`` window used, including Spark's
    NaN-greatest double semantics (``>`` agrees with DESC sort order on
    NaN) and NULLS-LAST-under-DESC for a NULL cosine (zero-norm vector).
    Still used on the PROBE side, where top-``nprobe`` needs the full
    sorted order over |probes| rows; the all-vectors argmax goes through
    :func:`_best_cell_cid`."""
    return (
        F.when(
            a["d"].eqNullSafe(b["d"]),
            F.when(a["cid"] < b["cid"], -1)
            .when(a["cid"] > b["cid"], 1)
            .otherwise(0),
        )
        .when(a["d"].isNull(), 1)
        .when(b["d"].isNull(), -1)
        .when(a["d"] > b["d"], -1)
        .otherwise(1)
    )


def ivf_assign_cells(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_centroids: int = 16,
    assign_decimals: int = 6,
) -> DataFrame:
    """IVF coarse quantization: assign every vector to its nearest centroid
    (max cosine, rounded for cross-engine rank stability, centroid-id
    tiebreak); at 100 TB the cell id becomes the partition key of the
    at-rest layout.

    Shape (review r9 rewrite): one full scan + a pushdown-filtered
    codebook scan, joined by a one-row broadcast — NO shuffle. The former
    formulation crossJoined 16 rows per vector, shuffled the whole table
    through a per-vector window, then hash-joined the assignment back:
    two full-table exchanges that dominate at scale and bought nothing.

    Returns (id, cell). Rows whose best cell is undefined (empty codebook)
    are dropped, matching the former inner-join contract."""
    vec = F.col(vec_col).cast("array<double>")
    # norm projected ONCE per row (review r9): transform lambdas get no
    # lambda-invariant hoisting, so an nv expression inlined into
    # _scored_cells would re-run the O(dim) norm aggregate per centroid
    base = spread_compute(df, _SPREAD_MIN_BYTES, key=id_col).select(
        F.col(id_col).alias("__vid"),
        vec.alias("v"),
        _norm(vec).alias("nv"),
    )
    # argmax via array_max, not comparator-sort (optimization r16): this
    # expression runs once per CORPUS vector — see _best_cell_cid
    best_cid = _best_cell_cid(
        _scored_cells(F.col("v"), F.col("nv"), assign_decimals)
    )
    return (
        base.join(
            F.broadcast(_centroid_codebook(df, id_col, vec_col, n_centroids)),
            how="cross",
        )
        # empty-codebook guard on size(cents), NOT on the derived cell
        # (a filter referencing the interpreted HOF chain would re-inline
        # and re-evaluate the whole scoring per row — the measured trap
        # from the d18 profile); non-empty cents ⇒ cell is non-NULL
        .where(F.size(F.col("cents")) > 0)
        .select(F.col("__vid").alias(id_col), best_cid.alias("cell"))
    )


def ivf_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    probe_ids: list[int],
    k: int = 5,
    n_centroids: int = 16,
    decimals: int = 4,
    nprobe: int = 1,
    assign_decimals: int = 6,
) -> DataFrame:
    """IVF ANN top-k: each probe scans only its ``nprobe`` nearest cells.
    With cells as partition keys the scan is partition-pruned to
    ~nprobe/n_centroids of the data per probe. Every data vector belongs
    to exactly one cell, so the cell join emits each (query, neighbor)
    pair at most once — no post-dedup needed at any nprobe.

    Shape (review r9 rewrite): the big side is scanned ONCE — cell
    assignment is a row-local expression against the one-row broadcast
    codebook, projected alongside (v, nv) before the broadcast cell join.
    The former formulation scanned the embeddings six times (assign base,
    assign join-back, candidate base, probe side twice, codebook) and
    shuffled the full table twice (per-vector window + assignment hash
    join); the only shuffle left is the per-query ranking window over the
    already cell-pruned candidates."""
    vec = F.col(vec_col).cast("array<double>")
    # ONE codebook frame feeds both the assignment and the probe side —
    # the code-level invariant that both score against the same codebook
    codebook = F.broadcast(
        _centroid_codebook(df, id_col, vec_col, n_centroids)
    )
    # assign_decimals is a PARAMETER, not the hardcoded 6 (review r15):
    # a layout written via ivf_assign_cells(assign_decimals=4) must be
    # queried on the same rounding grid or boundary vectors assign to
    # different cells at write vs query time — silent recall loss.
    # argmax via array_max, not comparator-sort (optimization r16): this
    # runs once per CORPUS vector — see _best_cell_cid
    best_cid = _best_cell_cid(
        _scored_cells(F.col("v"), F.col("nv"), assign_decimals)
    )
    base = (
        spread_compute(df, _SPREAD_MIN_BYTES, key=id_col)
        .select(
            F.col(id_col).alias("neighbor_id"),
            vec.alias("v"),
            _norm(vec).alias("nv"),
        )
        .join(codebook, how="cross")
        # empty-codebook guard on size(cents): a filter referencing the
        # interpreted HOF chain would re-inline and re-evaluate the whole
        # scoring per row; non-empty cents ⇒ cell is non-NULL
        .where(F.size(F.col("cents")) > 0)
        .select("neighbor_id", "v", "nv", best_cid.alias("cell"))
    )
    # probes carry their nprobe cells directly (row-local: sort the
    # per-probe (d, cid) array under the assignment order, slice nprobe,
    # explode), so the probe vectors are scanned once and never joined
    # back on query_id. NULL contract (review r9): a probe whose cosine
    # to EVERY centroid is NULL emits no cells — a NULL score never
    # "matches"
    top = F.slice(
        F.array_sort(
            _scored_cells(F.col("q"), F.col("nq"), assign_decimals),
            _cell_cmp,
        ),
        1,
        nprobe,
    )
    probes = (
        df.where(F.col(id_col).isin(probe_ids))
        .select(
            F.col(id_col).alias("query_id"), vec.alias("q"), _norm(vec).alias("nq")
        )
        .join(codebook, how="cross")
        .select(
            "query_id",
            "q",
            "nq",
            F.explode(F.filter(top, lambda s: s["d"].isNotNull())).alias(
                "__cell"
            ),
        )
        .select("query_id", "q", "nq", F.col("__cell")["cid"].alias("cell"))
    )
    return _score_rank_topk(
        base.join(F.broadcast(probes), on="cell"), k, decimals
    )
