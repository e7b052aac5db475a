"""Extended operator coverage: multi-dim aggregation (cube/rollup/grouping
sets), pivot, ranking/frame windows, explode/posexplode, the SQL-string
entry point, null handling with real nulls, and deterministic sampling.

These are the §2 rows the reference never exercised but a complete engine
must expose (SURVEY.md A10, W3, F6-F8, S5, O4) — each with a DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pyspark_bigdata_sars_cov_2_analysis_spark.operators import sorts, windows
from pyspark_bigdata_sars_cov_2_analysis_spark.plans.fragments import (
    ORDERED_PARTS_SQL,
    SCD2_CHANGES_CTES,
)
from pyspark_bigdata_sars_cov_2_analysis_spark.plans.registry import (
    tracked_cache,
    pround,
    query,
    sql_round,
    table,
)


@query(
    "a10_rollup",
    oracle=f"""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
           {sql_round("SUM(l_quantity)", 2)} AS sum_qty
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def a10_rollup(spark, sf_dir):
    """A10 — hierarchical rollup (flag → flag+status → grand total)."""
    li = table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        pround(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


@query(
    "a11_cube",
    oracle=f"""
    SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS oyear,
           o_orderstatus, COUNT(*) AS n,
           {sql_round("SUM(o_totalprice)", 2)} AS total
    FROM orders GROUP BY CUBE (1, o_orderstatus)
    """,
)
def a11_cube(spark, sf_dir):
    """A10 — full cube over (year, status)."""
    o = table(spark, sf_dir, "orders")
    return o.cube(
        F.year("o_orderdate").cast("bigint").alias("oyear"), "o_orderstatus"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        pround(F.sum("o_totalprice"), 2).alias("total"),
    )


@query(
    "a12_grouping_sets",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
           {sql_round("AVG(o_totalprice)", 2)} AS avg_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def a12_grouping_sets(spark, sf_dir):
    """A10 + S5 — explicit grouping sets through the SQL-string entry point
    (the engine's spark.sql surface, ref: the reference's one SQL query,
    spark/jobs/cases_clinical_spectrum_analysis.py:118)."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    return spark.sql(
        f"""
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
               {sql_round("AVG(o_totalprice)", 2)} AS avg_price
        FROM orders_v
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


# a13's pivot and sql07's: the DataFrame ``pivot()`` and the SQL
# ``PIVOT`` clause answer the same question
_PIVOT_SQL = f"""
    SELECT l_returnflag,
           {sql_round("SUM(CASE WHEN l_linestatus = 'F' THEN l_quantity END)", 2)} AS F,
           {sql_round("SUM(CASE WHEN l_linestatus = 'O' THEN l_quantity END)", 2)} AS O
    FROM lineitem GROUP BY l_returnflag
    """


@query(
    "a13_pivot",
    oracle=_PIVOT_SQL,
)
def a13_pivot(spark, sf_dir):
    """Pivot: linestatus columns × returnflag rows (the DataFrame-native
    confusion-matrix shape, ref M7 spark/jobs/radiography_analysis.py:208)."""
    li = table(spark, sf_dir, "lineitem")
    piv = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.sum("l_quantity"))
    )
    return piv.select(
        "l_returnflag",
        pround(F.col("F"), 2).alias("F"),
        pround(F.col("O"), 2).alias("O"),
    )


@query(
    "a14_count_distinct",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS n_parts,
           COUNT(DISTINCT l_suppkey) AS n_supps
    FROM lineitem GROUP BY l_returnflag
    """,
)
def a14_count_distinct(spark, sf_dir):
    """Multi distinct-agg (expand-based plan)."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
    )


@query(
    "a15_approx_count_distinct",
    # a18 exact-below-threshold trick, adapted for HLL (which is never
    # exact): the hashed columns are the exact count plus a boolean
    # asserting the HLL estimate landed within 5%; the oracle supplies the
    # exact counts and literal TRUE. HLL is deterministic for a fixed
    # input, so the boolean is stable across runs — the driver now value-
    # checks the estimate's error bound instead of skipping the query.
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS n_parts_exact,
           TRUE AS within_5pct
    FROM lineitem GROUP BY l_returnflag
    """,
)
def a15_approx_count_distinct(spark, sf_dir):
    """A10 — approx_count_distinct (HLL, rsd=0.02). Sketch estimates are
    engine-specific, so the estimate itself is not hashed; instead the
    output carries the exact count and a within-5% assertion on the
    estimate (2.5σ at rsd=0.02; verified to hold at every test SF — HLL
    is deterministic, so this cannot flap). The exact twin is a14; at
    100 TB you run ONLY the approx (one tiny sketch per group, mergeable,
    no Expand) — the exact column here exists to make the estimate
    oracle-checkable."""
    li = table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx"),
        F.count_distinct("l_partkey").alias("n_parts_exact"),
    )
    return agg.select(
        "l_returnflag",
        "n_parts_exact",
        (
            F.abs(F.col("approx") - F.col("n_parts_exact"))
            / F.col("n_parts_exact")
            < 0.05
        ).alias("within_5pct"),
    )


@query(
    "w04_lag_lead_rank",
    oracle="""
    SELECT o_custkey, o_orderkey,
           LAG(o_orderkey)  OVER w AS prev_order,
           LEAD(o_orderkey) OVER w AS next_order,
           CAST(RANK() OVER (PARTITION BY o_custkey
                ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS price_rank
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def w04_lag_lead_rank(spark, sf_dir):
    """W3 — lag/lead navigation + rank with deterministic tiebreaks."""
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wr = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.lag("o_orderkey").over(w).alias("prev_order"),
        F.lead("o_orderkey").over(w).alias("next_order"),
        F.rank().over(wr).cast("bigint").alias("price_rank"),
    )


@query(
    "w05_moving_frame",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d, COUNT(*) AS n
      FROM events GROUP BY 1, 2)
    SELECT event_type, strftime(d, '%Y-%m-%d') AS day,
           {sql_round("AVG(n) OVER (PARTITION BY event_type ORDER BY d ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)", 3)}
             AS ma4
    FROM daily
    """,
)
def w05_moving_frame(spark, sf_dir):
    """W3 — explicit rows frame: 4-day moving average of daily counts."""
    e = table(spark, sf_dir, "events")
    daily = e.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).alias("n")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(-3, Window.currentRow)
    )
    return daily.select(
        "event_type",
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        pround(F.avg("n").over(w), 3).alias("ma4"),
    )


@query(
    "w07_time_range_frame",
    # the outer window SUM over BIGINT is HUGEINT in DuckDB → cast (the
    # u08/o06 DECIMAL-vs-BIGINT hash class)
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d, COUNT(*) AS n
      FROM events GROUP BY 1, 2)
    SELECT event_type, strftime(d, '%Y-%m-%d') AS day, n,
           CAST(SUM(n) OVER (
             PARTITION BY event_type ORDER BY (d - DATE '1970-01-01')
             RANGE BETWEEN 3 PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS r4sum
    FROM daily
    """,
)
def w07_time_range_frame(spark, sf_dir):
    """W3 completion — the RANGE (value-based) frame, the one frame type
    w04-w06 never exercised: trailing 3-DAY sum of daily counts. Unlike
    w05's ``rowsBetween`` (which silently widens the window across
    calendar gaps — 4 *rows* can span weeks on sparse data), RANGE
    bounds the frame by the ORDER BY *value*, so a missing day shrinks
    the sum instead of pulling in stale rows; the planted-gap unit test
    pins exactly that divergence. Spark's ``rangeBetween`` needs a
    numeric sort key, so both engines order by epoch-days
    (``unix_date`` / ``d - DATE '1970-1-1'``) with identical integer
    offsets. Scale shape: aggregate-before-window (the window sees one
    row per (type, day), never raw events), same as w05."""
    e = table(spark, sf_dir, "events")
    daily = e.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).alias("n")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.unix_date(F.col("d")))
        .rangeBetween(-3, Window.currentRow)
    )
    return daily.select(
        "event_type",
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "n",
        F.sum("n").over(w).alias("r4sum"),
    )


@query(
    "f06_posexplode_roundtrip",
    oracle="""
    WITH packed AS (
      SELECT l_orderkey,
             list(l_partkey ORDER BY l_linenumber, l_partkey) AS arr
      FROM lineitem GROUP BY l_orderkey)
    SELECT l_orderkey,
           unnest([{'pos': CAST(i - 1 AS INT), 'l_partkey': arr[i]}
                   for i in generate_series(1, len(arr))], recursive := true)
    FROM packed
    """,
)
def f06_posexplode_roundtrip(spark, sf_dir):
    """F6/F7/F8 — collect into an ordered array, then posexplode back out
    (the reference's abstract-sentence pattern,
    spark/jobs/research_challenge_analysis.py:94-98)."""
    li = table(spark, sf_dir, "lineitem")
    packed = li.groupBy("l_orderkey").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("l_linenumber", "l_partkey"))),
            lambda s: s["l_partkey"],
        ).alias("arr")
    )
    return packed.select(
        "l_orderkey", F.posexplode("arr").alias("pos", "l_partkey")
    )


_SQL01 = """
WITH spend AS (
  SELECT o_custkey, SUM(o_totalprice) AS s FROM {orders} GROUP BY o_custkey
)
SELECT c_custkey, c_name, {spend_round} AS spend
FROM {customer} JOIN spend ON c_custkey = o_custkey
WHERE s > 2 * (SELECT AVG(s) FROM spend)
"""


@query(
    "sql01_subquery",
    oracle=_SQL01.format(
        orders="orders", customer="customer", spend_round=sql_round("s", 2)
    ),
)
def sql01_subquery(spark, sf_dir):
    """S5 — pure SQL-string query (scalar subquery + CTE) through
    spark.sql; identical ANSI text runs on both engines."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders_sq")
    table(spark, sf_dir, "customer").createOrReplaceTempView("customer_sq")
    return spark.sql(
        _SQL01.format(
            orders="orders_sq",
            customer="customer_sq",
            spend_round=sql_round("s", 2),
        )
    )


@query(
    "f13_null_handling",
    oracle="""
    WITH big AS (
      SELECT c_nationkey, COUNT(*) AS n_big
      FROM customer WHERE c_acctbal > 9000 GROUP BY c_nationkey)
    SELECT n_name,
           COALESCE(n_big, 0) AS n_big_filled,
           CASE WHEN n_big IS NULL THEN 'none' ELSE 'some' END AS flag
    FROM nation LEFT JOIN big ON n_nationkey = c_nationkey
    """,
)
def f13_null_handling(spark, sf_dir):
    """P8/F9 — real nulls from a left join, then fillna + isnull recode
    (ref fillna: spark/jobs/cases_time_analysis.py:104-105)."""
    n = table(spark, sf_dir, "nation")
    c = table(spark, sf_dir, "customer")
    big = (
        c.where(F.col("c_acctbal") > 9000)
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_big"))
    )
    j = n.join(big, on=n.n_nationkey == big.c_nationkey, how="left")
    return j.select(
        "n_name",
        F.coalesce(F.col("n_big"), F.lit(0)).alias("n_big_filled"),
        F.when(F.col("n_big").isNull(), "none").otherwise("some").alias("flag"),
    )


@query(
    "o04_deterministic_sample",
    oracle="""
    SELECT lang, doc_id FROM (
      SELECT lang, doc_id,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY md5(text), doc_id) AS rn
      FROM documents)
    WHERE rn <= 20
    """,
)
def o04_deterministic_sample(spark, sf_dir):
    """O4 made testable — the reference's per-class ``limit(1000)`` sampling
    (spark/jobs/radiography_analysis.py:133-154) picks arbitrary rows; the
    engine's sampling policy orders by a content hash so the 'random-ish'
    subset is reproducible on any engine/cluster (SURVEY.md §4.3 item 4)."""
    d = table(spark, sf_dir, "documents")
    out = windows.top_n_per_group(
        d, ["lang"], [F.md5("text"), F.asc("doc_id")], n=20
    )
    return out.select("lang", "doc_id")


def _z_sql(x_sql: str, y_sql: str, bits: int) -> str:
    """The identical Morton-interleave bit formula as DuckDB SQL text —
    generated from the same loop as :func:`..operators.sorts.zorder_value`
    so the two engines cannot drift."""
    terms = []
    for i in range(bits):
        terms.append(f"((({x_sql} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y_sql} >> {i}) & 1) << {2 * i + 1})")
    return " | ".join(terms)


@query(
    "o07_zorder_cells",
    oracle=f"""
    WITH g AS (
      SELECT event_id,
             CAST(user_id % 256 AS BIGINT) AS gx,
             CAST((CAST(ts AS DATE) - DATE '1970-01-01') % 256 AS BIGINT)
               AS gy
      FROM events)
    SELECT CAST(({_z_sql('gx', 'gy', 8)}) >> 10 AS BIGINT) AS zcell,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MAX(event_id) AS BIGINT) AS max_event
    FROM g GROUP BY zcell
    """,
)
def o07_zorder_cells(spark, sf_dir):
    """Layout family — cross-engine bit-exactness of the Morton (Z-order)
    interleave (:func:`..operators.sorts.zorder_value`): every event is
    mapped to an 8-bit (user, day) grid cell, z-encoded with
    ``zorder_value``, and aggregated per 1024-wide z-cell (a 32×32 tile).
    The oracle rebuilds the SAME shift/and/or formula from the same
    Python loop, so a single flipped bit anywhere in the 32-term
    interleave breaks the hash. Pure row-local bit arithmetic + one
    aggregate; scales like a groupBy."""
    e = table(spark, sf_dir, "events")
    gx = F.pmod(F.col("user_id"), F.lit(256)).cast("bigint")
    gy = F.pmod(F.unix_date(F.to_date("ts")), F.lit(256)).cast("bigint")
    z = sorts.zorder_value([gx, gy], bits=8)
    return (
        e.select("event_id", F.shiftright(z, 10).alias("zcell"))
        .groupBy("zcell")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max("event_id").alias("max_event"),
        )
    )


@query(
    "a16_percentiles",
    oracle=f"""
    SELECT l_returnflag,
           {sql_round("quantile_cont(l_extendedprice, 0.5)", 2)} AS p50,
           {sql_round("quantile_cont(l_extendedprice, 0.9)", 2)} AS p90,
           {sql_round("quantile_cont(l_extendedprice, 0.99)", 2)} AS p99
    FROM lineitem GROUP BY l_returnflag
    """,
)
def a16_percentiles(spark, sf_dir):
    """Exact interpolated percentiles per group (A10 family): Spark
    ``percentile`` and DuckDB ``quantile_cont`` share the linear-
    interpolation definition, so values hash-match after rounding. At
    scale the approximate twin is a15/percentile_approx — same API slot,
    sketch-based, no global sort."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        pround(F.percentile("l_extendedprice", 0.5), 2).alias("p50"),
        pround(F.percentile("l_extendedprice", 0.9), 2).alias("p90"),
        pround(F.percentile("l_extendedprice", 0.99), 2).alias("p99"),
    )


@query(
    "sql02_file_scan",
    oracle=f"""
    SELECT o_orderstatus, COUNT(*) AS n,
           {sql_round("SUM(o_totalprice)", 2)} AS total
    FROM orders GROUP BY o_orderstatus
    """,
)
def sql02_file_scan(spark, sf_dir):
    """S5 — SQL directly over parquet files with the reference's
    ``parquet.`path``` table syntax (spark/jobs/
    cases_clinical_spectrum_analysis.py:118), no registered view; the
    scan still gets pushdown/pruning like any other."""
    return spark.sql(
        f"""
        SELECT o_orderstatus, COUNT(*) AS n,
               {sql_round("SUM(o_totalprice)", 2)} AS total
        FROM parquet.`{sf_dir}/orders.parquet` GROUP BY o_orderstatus
        """
    )


def _rank_interval_within(value_col: str, n, bound):
    """Rank-interval sketch contract shared by the a19 (GK) and a20
    (KLL) attestations (ADVICE r6): the estimate occupies ranks
    [#{x < est}+1, #{x <= est}], and the sketch only promises SOME rank
    in that interval is within ``bound`` of q·n — a high-multiplicity
    value near the quantile can push the max rank alone past the bound
    while the sketch still meets its contract, so assert interval
    INTERSECTION, not the max rank. One definition so a future fix to
    the intersection math cannot leave the two sketch queries checking
    different contracts. ``n``/``bound`` are aggregate Columns evaluated
    in the caller's single-pass agg."""

    def within(q: float, est_col: str):
        lt = F.sum((F.col(value_col) < F.col(est_col)).cast("long"))
        le = F.sum((F.col(value_col) <= F.col(est_col)).cast("long"))
        return ((lt + 1) <= n * q + bound) & (le >= n * q - bound)

    return within


@query(
    "a19_approx_percentile_rankcheck",
    # a18/a15 trick for quantile sketches: the approx median's VALUE is
    # sketch-specific, but its RANK guarantee (|rank(approx) − n/2| ≤
    # n/accuracy) is checkable exactly — hash the exact row count and the
    # bound booleans, oracle supplies counts + literal TRUE
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           TRUE AS p50_within_bound,
           TRUE AS p90_within_bound
    FROM lineitem
    """,
)
def a19_approx_percentile_rankcheck(spark, sf_dir):
    """A10 — approx_percentile (Greenwald-Khanna sketch, accuracy=100)
    value-checked through its rank contract: the estimate for quantile q
    must have |#{x ≤ est} − q·n| ≤ n/accuracy. The estimate itself never
    enters the hash (sketch outputs are engine-specific; a16 is the
    exact twin) — the boolean does, computed from one conditional
    re-count against the broadcast 1-row estimate frame. At 100 TB the
    GK sketch is the only sane percentile: mergeable per partition, one
    pass, fixed memory; this query proves its error bound holds rather
    than taking it on faith.

    The check is the RANK-INTERVAL form (ADVICE r6): the returned value
    occupies ranks [#{x < est}+1, #{x ≤ est}], and the GK contract only
    promises SOME rank in that interval is within n/accuracy of q·n — a
    high-multiplicity value near the quantile can push #{x ≤ est} alone
    past the bound while the sketch still meets its contract, so we
    assert interval INTERSECTION, not the max rank."""
    li = table(spark, sf_dir, "lineitem")
    est = li.agg(
        F.percentile_approx("l_extendedprice", 0.5, 100).alias("p50"),
        F.percentile_approx("l_extendedprice", 0.9, 100).alias("p90"),
    )
    j = li.crossJoin(F.broadcast(est))
    n = F.count(F.lit(1))
    within = _rank_interval_within("l_extendedprice", n, n / 100 + 1)
    return j.agg(
        F.count(F.lit(1)).alias("n_rows"),
        within(0.5, "p50").alias("p50_within_bound"),
        within(0.9, "p90").alias("p90_within_bound"),
    )


@query(
    "a20_kll_mergeable_quantiles",
    # randomized sketch → only EXACT facts and bound booleans enter the
    # hash: exact row count, sketch-n == exact-n under merge, and the
    # two rank-contract booleans (5% bound: KLL k=200 promises ~1.65%
    # normalized rank error w.h.p., so 5% never flips on a healthy
    # implementation while still catching a broken merge)
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           TRUE AS merge_preserves_n,
           TRUE AS p50_within_bound,
           TRUE AS p90_within_bound
    FROM lineitem
    """,
)
def a20_kll_mergeable_quantiles(spark, sf_dir):
    """A10 sketch-family completion (VERDICT r6 #5): the PER-PARTITION-
    MERGE quantile path a 100 TB job actually uses, via Spark 4's KLL
    family. Stage 1 builds one ``kll_sketch_agg_double`` partial per
    shard (stand-in for per-partition/per-day partials); stage 2
    ``kll_merge_agg_double`` merges the binary sketches — the operation
    GK's ``approx_percentile`` doesn't expose, and the reason a 100 TB
    rollup can keep per-day sketches and answer arbitrary-range quantile
    queries by merging instead of rescanning. Checked like a19: KLL
    compaction is randomized (the quantile VALUE differs run to run, so
    it never enters the hash); what's hashed is the exact row count,
    ``kll_sketch_get_n`` == exact count surviving the merge, and the
    rank-interval contract of both estimates against a conservative 5%
    bound, recomputed exactly against the broadcast 1-row estimate."""
    li = table(spark, sf_dir, "lineitem")
    partials = (
        li.withColumn(
            "shard",
            F.pmod(F.xxhash64("l_orderkey", "l_linenumber"), F.lit(8)),
        )
        .groupBy("shard")
        .agg(
            F.kll_sketch_agg_double("l_extendedprice", F.lit(200)).alias("sk"),
            F.count(F.lit(1)).alias("n_part"),
        )
    )
    est = partials.agg(
        F.kll_merge_agg_double("sk").alias("msk"),
        F.sum("n_part").alias("n_sum"),
    ).select(
        F.kll_sketch_get_quantile_double("msk", F.lit(0.5)).alias("p50"),
        F.kll_sketch_get_quantile_double("msk", F.lit(0.9)).alias("p90"),
        F.kll_sketch_get_n_double("msk").alias("n_sketch"),
        "n_sum",
    )
    j = li.crossJoin(F.broadcast(est))
    n = F.count(F.lit(1))
    within = _rank_interval_within("l_extendedprice", n, n * 0.05 + 1)
    return j.agg(
        F.count(F.lit(1)).alias("n_rows"),
        (
            (F.first("n_sketch") == F.count(F.lit(1)))
            & (F.first("n_sum") == F.count(F.lit(1)))
        ).alias("merge_preserves_n"),
        within(0.5, "p50").alias("p50_within_bound"),
        within(0.9, "p90").alias("p90_within_bound"),
    )


@query(
    "sql03_recursive_calendar",
    oracle="""
    WITH RECURSIVE bounds AS (
      SELECT MIN(CAST(ts AS DATE)) AS lo, MAX(CAST(ts AS DATE)) AS hi
      FROM events
    ),
    cal(d) AS (
      SELECT lo FROM bounds
      UNION ALL
      SELECT d + 1 FROM cal, bounds WHERE d < hi
    ),
    daily AS (
      SELECT CAST(ts AS DATE) AS d, COUNT(*) AS n FROM events GROUP BY 1
    )
    SELECT strftime(cal.d, '%Y-%m-%d') AS day,
           CAST(COALESCE(daily.n, 0) AS BIGINT) AS n
    FROM cal LEFT JOIN daily ON cal.d = daily.d
    """,
)
def sql03_recursive_calendar(spark, sf_dir):
    """S5 + Spark 4 RECURSIVE CTE surface: generate the corpus's full
    calendar span by linear recursion (anchor = min date, step = +1 day
    until max) and left-join daily event counts, emitting zero for gap
    days — the recursive-SQL twin of e08's sequence()-based gapfill.
    Recursion is driver-bounded (one row per level, ~30 levels here,
    far under spark.sql.cteRecursionLevelLimit); UNION ALL only — Spark
    4.1 rejects UNION-dedup recursion, which is why the engine's cyclic
    graph closure (d07/d13) stays an iterative DataFrame loop instead.

    The recursion CARRIES ``hi`` as a column seeded by the anchor,
    rather than cross-joining a ``bounds`` CTE in the step: Spark's
    recursive execution re-evaluates the step's OTHER relations every
    level, so the original ``FROM cal, bounds`` shape re-ran the full
    min/max scan of events once per calendar day — ~30 whole-table
    aggregates for a 30-row calendar (measured 5.6-8.8s at sf0.1 →
    ~0.9s carried). One full-width scan for bounds, one for daily."""
    table(spark, sf_dir, "events").createOrReplaceTempView("events_sql03")
    return spark.sql(
        """
        WITH RECURSIVE cal(d, hi) AS (
          SELECT MIN(CAST(ts AS DATE)), MAX(CAST(ts AS DATE))
          FROM events_sql03
          UNION ALL
          SELECT DATE_ADD(d, 1), hi FROM cal WHERE d < hi
        ),
        daily AS (
          SELECT CAST(ts AS DATE) AS d, COUNT(*) AS n
          FROM events_sql03 GROUP BY 1
        )
        SELECT date_format(cal.d, 'yyyy-MM-dd') AS day,
               CAST(COALESCE(daily.n, 0) AS BIGINT) AS n
        FROM cal LEFT JOIN daily ON cal.d = daily.d
        """
    )


@query(
    "sql04_lateral_topn",
    oracle=f"""
    SELECT c.c_custkey, t.o_orderkey,
           {sql_round("t.o_totalprice", 2)} AS totalprice
    FROM customer c, LATERAL (
      SELECT o_orderkey, o_totalprice
      FROM orders WHERE o_custkey = c.c_custkey
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
    ) t
    WHERE c.c_custkey % 100 = 0
    """,
)
def sql04_lateral_topn(spark, sf_dir):
    """S5 + LATERAL join surface (Spark 4): top-2 orders per customer via
    a correlated LATERAL derived table with ORDER BY/LIMIT — the SQL-
    standard formulation of per-group top-n, identical syntax in DuckDB.
    Catalyst decorrelates it into a join+window under the hood; the
    engine's native scale form remains w03_topn_per_group (explicit
    bounded window) — this query attests that the SQL-compat path yields
    the same answers."""
    table(spark, sf_dir, "customer").createOrReplaceTempView("customer_sql04")
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders_sql04")
    return spark.sql(
        f"""
        SELECT c.c_custkey, t.o_orderkey,
               {sql_round("t.o_totalprice", 2)} AS totalprice
        FROM customer_sql04 c, LATERAL (
          SELECT o_orderkey, o_totalprice
          FROM orders_sql04 WHERE o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
        ) t
        WHERE c.c_custkey % 100 = 0
        """
    )


@query(
    "w06_distribution_ranks",
    oracle=f"""
    SELECT c_custkey,
           NTILE(4) OVER w AS quartile,
           {sql_round("PERCENT_RANK() OVER w", 6)} AS pct_rank,
           {sql_round("CUME_DIST() OVER w", 6)} AS cume
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
    """,
)
def w06_distribution_ranks(spark, sf_dir):
    """W3 completeness — distribution window functions (ntile /
    percent_rank / cume_dist) with a unique tiebreak so every engine
    agrees on the frame order."""
    c = table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.asc("c_acctbal"), F.asc("c_custkey")
    )
    return c.select(
        "c_custkey",
        F.ntile(4).over(w).cast("bigint").alias("quartile"),
        pround(F.percent_rank().over(w), 6).alias("pct_rank"),
        pround(F.cume_dist().over(w), 6).alias("cume"),
    )


@query(
    "a17_hll_mergeable_sketch",
    # a18 trick: hash the exact count, the (exact) sum of per-day distinct
    # counts, and a within-5% assertion on the merged-sketch estimate; the
    # oracle recomputes the two exact values and emits literal TRUE. The
    # engine-specific sketch binaries and estimate never enter the hash,
    # but the merge path is now value-checked end to end.
    oracle="""
    SELECT
      CAST((SELECT COUNT(DISTINCT user_id) FROM events) AS BIGINT)
        AS exact_users,
      CAST((SELECT SUM(d) FROM (
            SELECT COUNT(DISTINCT user_id) AS d
            FROM events GROUP BY CAST(ts AS DATE))) AS BIGINT) AS sum_daily,
      TRUE AS within_5pct
    """,
)
def a17_hll_mergeable_sketch(spark, sf_dir):
    """Mergeable-sketch distinct counting: per-day HLL sketches of active
    users, merged with hll_union_agg into a period-wide estimate. THE
    pattern for distinct counts at 100 TB: daily partitions aggregate once
    into tiny sketch blobs; any date-range distinct is then a union of
    sketches, never a re-scan. The merged estimate must land within 5% of
    the exact count — that bound (plus the exact counts) is what the
    DuckDB oracle hash-checks; the estimate itself stays out of the hash
    because sketch internals are engine-specific (HLL is deterministic per
    input, so the boolean cannot flap)."""
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("sketch"),
        F.count_distinct("user_id").alias("exact_daily"),
    )
    merged = daily.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("est_users"),
        F.sum("exact_daily").alias("sum_daily"),
    )
    exact = e.agg(F.count_distinct("user_id").alias("exact_users"))
    out = merged.crossJoin(F.broadcast(exact))
    return out.select(
        "exact_users",
        "sum_daily",
        (
            F.abs(F.col("est_users") - F.col("exact_users"))
            / F.col("exact_users")
            < 0.05
        ).alias("within_5pct"),
    )


@query(
    "a18_theta_sketch_setops",
    oracle="""
    SELECT
      CAST((SELECT COUNT(DISTINCT user_id) FROM events
            WHERE event_type = 'view') AS BIGINT) AS n_viewers,
      CAST((SELECT COUNT(DISTINCT user_id) FROM events
            WHERE event_type = 'purchase') AS BIGINT) AS n_purchasers,
      CAST((SELECT COUNT(*) FROM (
            SELECT DISTINCT user_id FROM events WHERE event_type = 'view'
            INTERSECT
            SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
      )) AS BIGINT) AS n_both,
      CAST((SELECT COUNT(*) FROM (
            SELECT DISTINCT user_id FROM events WHERE event_type = 'view'
            UNION
            SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
      )) AS BIGINT) AS n_either
    """,
)
def a18_theta_sketch_setops(spark, sf_dir):
    """Audience-overlap set algebra on theta sketches: distinct viewers,
    purchasers, their intersection and union — from ONE scan building two
    sketches via null-skipping conditional aggregation, then sketch-level
    set ops. Unlike HLL (union-only, always approximate), theta sketches
    support intersection/difference AND are EXACT below their sampling
    threshold (default 2^12 retained hashes), which the 150-user corpus
    sits far under — hence a hash-exact DuckDB oracle against 4-subquery
    exact counts. At 100 TB the same plan yields bounded-error estimates
    from kilobyte blobs where the exact INTERSECT would shuffle every
    distinct key; per-partition sketches merge with theta_union_agg like
    a17's HLL pattern."""
    e = table(spark, sf_dir, "events")
    s_v = F.theta_sketch_agg(
        F.when(F.col("event_type") == "view", F.col("user_id"))
    )
    s_p = F.theta_sketch_agg(
        F.when(F.col("event_type") == "purchase", F.col("user_id"))
    )
    return e.agg(s_v.alias("sv"), s_p.alias("sp")).select(
        F.theta_sketch_estimate("sv").cast("bigint").alias("n_viewers"),
        F.theta_sketch_estimate("sp").cast("bigint").alias("n_purchasers"),
        F.theta_sketch_estimate(F.theta_intersection("sv", "sp"))
        .cast("bigint")
        .alias("n_both"),
        F.theta_sketch_estimate(F.theta_union("sv", "sp"))
        .cast("bigint")
        .alias("n_either"),
    )


# a21's melt of four lineitem measures, and sql12's: the DataFrame
# ``unpivot`` and the SQL ``UNPIVOT`` clause answer the same question
_UNPIVOT_SQL = f"""
    SELECT l_orderkey, l_linenumber, metric,
           {sql_round("val", 2)} AS val
    FROM (
      UNPIVOT (SELECT l_orderkey, l_linenumber, l_quantity,
                      l_extendedprice, l_discount, l_tax
               FROM lineitem WHERE l_orderkey % 100 = 0)
      ON l_quantity, l_extendedprice, l_discount, l_tax
      INTO NAME metric VALUE val
    )
    """


@query(
    "a21_unpivot_melt",
    oracle=_UNPIVOT_SQL,
)
def a21_unpivot_melt(spark, sf_dir):
    """A10-family completion: UNPIVOT/melt — wide→long reshape, the
    inverse of a13's pivot, via the native ``DataFrame.unpivot`` (Spark's
    Expand node: each input row fans to one row per value column with NO
    shuffle and no UDF — row-local, scan-parallel, the right 100 TB
    shape for metric-table normalization). Values share the DOUBLE type
    so the melt needs no lossy casts; compat-rounded on both engines."""
    li = (
        table(spark, sf_dir, "lineitem")
        .where(F.col("l_orderkey") % 100 == 0)
        .select(
            "l_orderkey", "l_linenumber", "l_quantity",
            "l_extendedprice", "l_discount", "l_tax",
        )
    )
    out = li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "metric",
        "val",
    )
    return out.select(
        "l_orderkey", "l_linenumber", "metric",
        pround(F.col("val"), 2).alias("val"),
    )


@query(
    "sql05_lateral_view_tokens",
    oracle="""
    SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS n
    FROM (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      FROM documents WHERE doc_id % 50 = 0
    ) GROUP BY doc_id, tok
    """,
)
def sql05_lateral_view_tokens(spark, sf_dir):
    """S5 — the Hive-compat SQL generator surface: ``LATERAL VIEW
    explode`` (the syntax a user migrating HiveQL jobs brings along) plus
    Spark 4's ``GROUP BY ALL``. Same physical plan as the DataFrame
    ``explode`` + groupBy the t-family uses — this attests the PARSER
    path, not a new operator; Catalyst rewrites Generate + aggregate
    identically for both front-ends."""
    table(spark, sf_dir, "documents").createOrReplaceTempView(
        "documents_sql05"
    )
    return spark.sql(
        """
        SELECT doc_id, tok, COUNT(*) AS n
        FROM documents_sql05 LATERAL VIEW explode(split(text, ' ')) t AS tok
        WHERE doc_id % 50 = 0
        GROUP BY ALL
        """
    )


@query(
    "a23_corr_covar",
    # both engines accumulate co-moments in one pass; last-ulp drift is
    # absorbed by the 4dp compat rounding (same class as every AVG here)
    oracle=f"""
    SELECT l_returnflag,
           {sql_round("corr(l_quantity, l_extendedprice)", 4)} AS qp_corr,
           {sql_round("covar_samp(l_quantity, l_extendedprice)", 2)}
             AS qp_covar,
           {sql_round("stddev_samp(l_extendedprice)", 2)} AS price_std
    FROM lineitem GROUP BY l_returnflag
    """,
)
def a23_corr_covar(spark, sf_dir):
    """A-family completion — second-moment statistics (Pearson
    correlation, sample covariance, sample stddev) per group: the other
    half of p17's profile. All three are single-pass co-moment
    aggregates with map-side partials (Welford-style merge), so at
    100 TB the correlation matrix of a fact table costs one scan —
    never the naive two-pass mean-then-residuals formulation."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        pround(F.corr("l_quantity", "l_extendedprice"), 4).alias("qp_corr"),
        pround(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias(
            "qp_covar"
        ),
        pround(F.stddev_samp("l_extendedprice"), 2).alias("price_std"),
    )


@query(
    "a24_zscore_anomaly",
    # the z-score itself is rounded through the compat family; the flag
    # compares ROUNDED scores so boundary days gate identically
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d, COUNT(*) AS n
      FROM events GROUP BY 1, 2),
    stats AS (
      SELECT event_type,
             AVG(n) AS mu, stddev_samp(n) AS sd
      FROM daily GROUP BY event_type)
    SELECT daily.event_type, strftime(d, '%Y-%m-%d') AS day,
           CAST(n AS BIGINT) AS n,
           {sql_round("(n - mu) / sd", 3)} AS zscore,
           abs({sql_round("(n - mu) / sd", 3)}) > 2.0 AS is_anomaly
    FROM daily JOIN stats ON daily.event_type = stats.event_type
    """,
)
def a24_zscore_anomaly(spark, sf_dir):
    """Analytics completion — per-group z-score anomaly flagging over the
    daily series (the monitoring query every event pipeline runs): one
    aggregate for the daily counts, ONE more for each type's mean/stddev
    (a23's single-pass co-moments), broadcast-joined back, flag rows
    |z| > 2. Scale shape: the stats frame is one row per event_type —
    always broadcastable — so the fact side never reshuffles after its
    daily rollup; no window anywhere (a global-window mean/std would
    serialize each type's whole history into one task). The flag
    compares compat-ROUNDED z-scores so boundary days gate identically
    cross-engine."""
    e = table(spark, sf_dir, "events")
    daily = e.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).alias("n")
    )
    stats = daily.groupBy("event_type").agg(
        F.avg("n").alias("mu"), F.stddev_samp("n").alias("sd")
    )
    z = pround((F.col("n") - F.col("mu")) / F.col("sd"), 3)
    return (
        daily.join(F.broadcast(stats), "event_type")
        .select(
            "event_type",
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            F.col("n").cast("bigint").alias("n"),
            z.alias("zscore"),
            (F.abs(z) > 2.0).alias("is_anomaly"),
        )
    )


@query(
    "w08_scd2_intervals",
    # per (user, day) the LAST event's type (argmax by ts with event_id
    # tiebreak — lineitem-style determinism), then change-points via lag
    # and validity intervals via lead: the SCD2 build as pure windows.
    # The CTE chain is the shared fragments.SCD2_CHANGES_CTES — j09/e16
    # extend the same chain, so the three oracles cannot drift.
    oracle=f"""
    WITH {SCD2_CHANGES_CTES}
    SELECT user_id, attr,
           strftime(d, '%Y-%m-%d') AS valid_from,
           strftime(LEAD(d - INTERVAL 1 DAY) OVER
                    (PARTITION BY user_id ORDER BY d), '%Y-%m-%d')
             AS valid_to
    FROM changes
    """,
)
def w08_scd2_intervals(spark, sf_dir):
    """Warehouse staple — SCD-Type-2 history construction: per user, the
    daily observed attribute (last event type of the day, argmax by ts
    with event_id tiebreak), collapsed to CHANGE POINTS (lag filter),
    each stamped with its validity interval (valid_from = change day,
    valid_to = day before the next change, NULL = current) — turning an
    event log into the slowly-changing-dimension table joins are run
    against. Shape: one (user, day) aggregate with a max(struct) argmax
    (map-side partial), then two windows over the ALREADY-AGGREGATED
    per-user daily frame (bounded by days-per-user, never raw events).
    The interval twin of w07's RANGE frame."""
    e = table(spark, sf_dir, "events")
    daily = e.groupBy("user_id", F.to_date("ts").alias("d")).agg(
        F.max(F.struct("ts", "event_id", "event_type"))["event_type"].alias(
            "attr"
        )
    )
    w = Window.partitionBy("user_id").orderBy("d")
    changes = (
        daily.withColumn("prev_attr", F.lag("attr").over(w))
        .where(F.col("prev_attr").isNull() | (F.col("attr") != F.col("prev_attr")))
        .drop("prev_attr")
    )
    return changes.select(
        "user_id",
        "attr",
        F.date_format("d", "yyyy-MM-dd").alias("valid_from"),
        F.date_format(
            F.date_sub(F.lead("d").over(w), 1), "yyyy-MM-dd"
        ).alias("valid_to"),
    )


@query(
    "sql06_relational_division",
    oracle="""
    SELECT user_id FROM events GROUP BY user_id
    HAVING COUNT(DISTINCT event_type) =
           (SELECT COUNT(DISTINCT event_type) FROM events)
    """,
)
def sql06_relational_division(spark, sf_dir):
    """SQL-surface completion — relational DIVISION, the textbook
    operator with no direct keyword: "users who performed EVERY event
    type" via the count-distinct-equality formulation (the double-NOT-
    EXISTS classic rewritten to two aggregates Catalyst executes as a
    grouped count-distinct plus a broadcast 1-row scalar subquery — no
    correlated per-user probing, which is the only formulation that
    survives 100 TB). Runs through the spark.sql string entry point."""
    table(spark, sf_dir, "events").createOrReplaceTempView("events_div_v")
    return spark.sql(
        """
        SELECT user_id FROM events_div_v GROUP BY user_id
        HAVING COUNT(DISTINCT event_type) =
               (SELECT COUNT(DISTINCT event_type) FROM events_div_v)
        """
    )


@query(
    "sql07_pivot_clause",
    oracle=_PIVOT_SQL,
)
def sql07_pivot_clause(spark, sf_dir):
    """SQL-surface twin of a13: the PIVOT clause through the spark.sql
    parser (a13 attests the DataFrame ``pivot()`` API; this attests the
    SQL syntax path plans to the same aggregate — users migrating SQL
    workloads use the clause, not the method). Explicit IN list as
    always: an open pivot would need a values scan before planning."""
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_pv")
    return spark.sql(
        f"""
        SELECT l_returnflag,
               {sql_round("F", 2)} AS F, {sql_round("O", 2)} AS O
        FROM (
          SELECT l_returnflag, l_linestatus, l_quantity FROM lineitem_pv
        )
        PIVOT (SUM(l_quantity) FOR l_linestatus IN ('F' AS F, 'O' AS O))
        """
    )


@query(
    "w09_running_distinct_users",
    # SUM over BIGINT window -> HUGEINT in DuckDB: cast (u08 hash class)
    oracle="""
    WITH first_seen AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS d FROM events GROUP BY user_id),
    new_per_day AS (
      SELECT d, COUNT(*) AS n_new FROM first_seen GROUP BY d)
    SELECT strftime(d, '%Y-%m-%d') AS day,
           CAST(n_new AS BIGINT) AS n_new,
           CAST(SUM(n_new) OVER (ORDER BY d
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_users
    FROM new_per_day
    """,
)
def w09_running_distinct_users(spark, sf_dir):
    """The running-COUNT-DISTINCT problem (cumulative unique users by
    day), solved by REDUCTION instead of brute force: a windowed
    count(distinct) re-scans every prior day's users per output row —
    quadratic state no engine executes well — but cumulative distinct ≡
    cumulative sum of FIRST-SEEN counts, which is one per-user min
    aggregate, one per-day count, and a running sum over the tiny daily
    frame. The same reduction powers e12's cohorts; here it yields the
    growth curve every dashboard plots. At 100 TB: the only big shuffle
    is the per-user min; everything after runs on ~days rows."""
    e = table(spark, sf_dir, "events")
    first_seen = e.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("d"))
    daily = first_seen.groupBy("d").agg(F.count(F.lit(1)).alias("n_new"))
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        F.col("n_new").cast("bigint").alias("n_new"),
        F.sum("n_new").over(w).cast("bigint").alias("cum_users"),
    )


@query(
    "a25_transpose",
    # the transposed frame is tiny and fully determined: metrics become
    # rows, the three return flags become columns — the oracle writes it
    # out as three scalar-subquery columns per metric row
    oracle=f"""
    WITH s AS (
      SELECT l_returnflag AS flag,
             {sql_round("SUM(l_quantity)", 2)} AS sum_qty,
             {sql_round("AVG(l_extendedprice)", 2)} AS avg_price
      FROM lineitem GROUP BY l_returnflag)
    SELECT m.key,
           (SELECT CASE m.key WHEN 'sum_qty' THEN sum_qty
                              ELSE avg_price END FROM s WHERE flag = 'A') AS A,
           (SELECT CASE m.key WHEN 'sum_qty' THEN sum_qty
                              ELSE avg_price END FROM s WHERE flag = 'N') AS N,
           (SELECT CASE m.key WHEN 'sum_qty' THEN sum_qty
                              ELSE avg_price END FROM s WHERE flag = 'R') AS R
    FROM (VALUES ('sum_qty'), ('avg_price')) m(key)
    """,
)
def a25_transpose(spark, sf_dir):
    """Reshape completion — Spark 4's ``DataFrame.transpose()`` (a21's
    unpivot turns wide→long; transpose flips a SMALL summary frame's
    axes entirely, metrics-as-rows × groups-as-columns — the
    presentation shape reports want). Only sane on bounded frames: the
    first column's values become column NAMES, so the input here is the
    3-row per-flag aggregate, never a fact table. The aggregate before
    the flip is the usual map-side-combined shuffle; the transpose
    itself is driver-bounded by construction."""
    li = table(spark, sf_dir, "lineitem")
    s = (
        li.groupBy(F.col("l_returnflag").alias("flag"))
        .agg(
            pround(F.sum("l_quantity"), 2).alias("sum_qty"),
            pround(F.avg("l_extendedprice"), 2).alias("avg_price"),
        )
        .orderBy("flag")
    )
    return s.transpose()


@query(
    "w10_forward_fill",
    oracle=f"""
    WITH planted AS (
      SELECT user_id, event_id, ts,
             CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS v
      FROM events)
    SELECT user_id, event_id,
           {sql_round("last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)", 2)}
             AS filled
    FROM planted
    """,
)
def w10_forward_fill(spark, sf_dir):
    """W3 completion — FORWARD FILL via ``last_value(..., ignoreNulls)``
    over an unbounded-preceding frame: every planted gap (value nulled
    on each 7th event) takes the user's most recent non-null
    observation, the sensor/price-series imputation every time-series
    pipeline runs. A user's leading nulls (no prior observation) stay
    NULL — fill never invents data. One window over the user partition;
    the IGNORE NULLS navigation is the piece w04's plain lag/lead
    cannot express without a nested struct trick."""
    e = table(spark, sf_dir, "events")
    planted = e.select(
        "user_id",
        "event_id",
        "ts",
        F.when(F.col("event_id") % 7 == 0, None).otherwise(
            F.col("value")
        ).alias("v"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return planted.select(
        "user_id",
        "event_id",
        pround(F.last("v", ignorenulls=True).over(w), 2).alias("filled"),
    )


@query(
    "a26_deterministic_mode",
    # the oracle spells out the mode's tiebreak contract explicitly:
    # max count, then LOWEST value — exactly what mode(deterministic)
    # promises, so ties cannot flap between engines
    oracle="""
    WITH c AS (
      SELECT user_id, event_type, COUNT(*) AS n
      FROM events GROUP BY user_id, event_type),
    r AS (
      SELECT user_id, event_type, n,
             ROW_NUMBER() OVER (PARTITION BY user_id
               ORDER BY n DESC, event_type) AS rn
      FROM c)
    SELECT user_id, event_type AS modal_type, CAST(n AS BIGINT) AS n
    FROM r WHERE rn = 1
    """,
)
def a26_deterministic_mode(spark, sf_dir):
    """A-family completion — ``mode()`` with the DETERMINISTIC flag: each
    user's most frequent event type, ties broken by LOWEST value (the
    documented contract), which is the only mode a cross-engine gate can
    attest — plain mode() picks an arbitrary tied winner and would flap.
    The count rides along so the answer is auditable. One grouped
    aggregate; mode's sketch state is bounded by the per-user type
    domain."""
    e = table(spark, sf_dir, "events")
    m = e.groupBy("user_id").agg(
        F.mode("event_type", True).alias("modal_type")
    )
    counts = e.groupBy(
        F.col("user_id").alias("c_user"), F.col("event_type").alias("c_type")
    ).agg(F.count(F.lit(1)).alias("n"))
    return m.join(
        counts,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("modal_type") == F.col("c_type")),
    ).select("user_id", "modal_type", "n")


@query(
    "a27_approx_top_k_mergeable",
    # exactness regime, a18's rule: the SpaceSaving-style summary is
    # EXACT while every shard tracks fewer distinct items than its
    # maxItemsTracked budget (no eviction ever happens), and the events
    # corpus sits orders of magnitude under the 100k budget at every
    # attestation SF — so the merged estimates hash-exactly against the
    # oracle's true counts and est_matches_exact pins the contract: an
    # eviction-regime scale-up flips it and fails the hash loudly
    oracle="""
    WITH ex AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact_n
      FROM events GROUP BY user_id
      ORDER BY exact_n DESC, user_id LIMIT 5)
    SELECT user_id, exact_n, exact_n AS est_n, TRUE AS est_matches_exact
    FROM ex
    """,
)
def a27_approx_top_k_mergeable(spark, sf_dir):
    """Sketch-family completion — the fourth mergeable axis (heavy
    hitters) in Spark 4.1's native accumulate/combine/estimate form:
    per-day ``approx_top_k_accumulate`` summaries of event traffic by
    user, merged with ``approx_top_k_combine``, queried with
    ``approx_top_k_estimate``. THE pattern for top-k at 100 TB, same as
    a17's HLL and a20's KLL: daily partitions aggregate once into
    bounded-size summary blobs; any date-range top-k is then a merge of
    blobs, never a re-scan. The verification recount (exact per-user
    counts, top-5 by (n DESC, user_id) — deterministic through the
    sf0.1 fifth-place tie) is the a19-style second pass a sketch
    contract inherently needs; both sides of the final join are ≤100
    rows. Estimates are taken at k=100 ≫ 5 so a boundary tie inside the
    sketch's own (unspecified) tied-order can never drop a top-5 item
    from the joined estimate set."""
    from pyspark_bigdata_sars_cov_2_analysis_spark.operators.sorts import (
        top_k,
    )

    e = table(spark, sf_dir, "events")
    merged = (
        e.groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.expr("approx_top_k_accumulate(user_id, 100000)").alias("acc")
        )
        .agg(F.expr("approx_top_k_combine(acc)").alias("comb"))
        .select(
            F.explode(F.expr("approx_top_k_estimate(comb, 100)")).alias("s")
        )
        .select(
            F.col("s.item").alias("user_id"),
            F.col("s.count").cast("bigint").alias("est_n"),
        )
    )
    exact = top_k(
        e.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_n")),
        5,
        F.desc("exact_n"),
        F.asc("user_id"),
    ).select("user_id", F.col("exact_n").cast("bigint").alias("exact_n"))
    return exact.join(F.broadcast(merged), on="user_id", how="left").select(
        "user_id",
        "exact_n",
        "est_n",
        (F.col("est_n") == F.col("exact_n")).alias("est_matches_exact"),
    )


@query(
    "j11_lateral_join_api",
    oracle=f"""
    SELECT c_custkey, o_orderkey, {sql_round("o_totalprice", 2)} AS price,
           CAST(rn AS BIGINT) AS rank
    FROM (
      SELECT c.c_custkey, o.o_orderkey, o.o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY c.c_custkey
               ORDER BY o.o_totalprice DESC, o.o_orderkey) AS rn
      FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey)
    WHERE rn <= 2
    """,
)
def j11_lateral_join_api(spark, sf_dir):
    """§2.3/SQL-surface cross — ``DataFrame.lateralJoin`` (Spark 4), the
    DataFrame-API form of sql04's correlated LATERAL: each customer's
    top-2 orders by price, the inner side referencing the outer row via
    ``F.col(...).outer()``. The point this attests: Catalyst DECORRELATES
    the per-row subquery into one WindowGroupLimit-pruned ranking window
    plus a join — never a per-outer-row re-execution — so the API's
    convenience costs the same single keyed shuffle w03's explicit
    bounded window pays (the plan the scale path wants; a true per-row
    loop would be quadratic at 100 TB)."""
    c = table(spark, sf_dir, "customer").alias("c")
    o = table(spark, sf_dir, "orders")
    sub = (
        o.where(F.col("o_custkey") == F.col("c.c_custkey").outer())
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(2)
        .select("o_orderkey", "o_totalprice")
    )
    joined = c.lateralJoin(sub, how="inner")
    w = Window.partitionBy("c_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return joined.select(
        "c_custkey",
        "o_orderkey",
        pround(F.col("o_totalprice"), 2).alias("price"),
        F.row_number().over(w).cast("bigint").alias("rank"),
    )


@query(
    "j12_runtime_filter",
    # the runtime filter is a pure PRUNING optimization — result values
    # are those of the plain join, which is exactly what the oracle runs
    oracle=f"""
    SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_orders,
           {sql_round("SUM(o_totalprice)", 2)} AS revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE c_mktsegment = 'AUTOMOBILE'
    GROUP BY c_mktsegment
    """,
)
def j12_runtime_filter(spark, sf_dir):
    """Runtime-filter join attestation (VERDICT r9 #4) — Catalyst's
    ``InjectRuntimeFilter``: on a selective dim→fact shuffle join, the
    optimizer builds a bloom filter from the filtered creation side
    (``bloom_filter_agg`` over ``c_custkey``) and pushes a
    ``might_contain`` probe into the FACT side's scan filter, so fact
    rows that cannot join are dropped at the scan instead of riding the
    join shuffle — the Catalyst-native scale lever (with partitioned
    fact tables the same rule family does dynamic partition pruning;
    these parquet tables are unpartitioned, so the bloom path is the
    one in play). The plan-shape test pins both nodes.

    Conf pinning (the VERDICT's anticipated caveat): injection is
    size-gated — the application side must scan >
    ``runtime.bloomFilter.applicationSideScanSizeThreshold`` (10 GB
    default), which a sf0.001/sf0.01 fixture never reaches, and a
    creation side small enough to BROADCAST skips the rule entirely
    (the broadcast join already prunes via its build side). At real
    scale the defaults fire on their own; here the thresholds are
    pinned on a CLONED session (``spark.newSession()`` — shared
    SparkContext, ISOLATED SQLConf) while physical planning is forced
    (``executedPlan`` is a Scala lazy val, so the plan the driver later
    collects is the one planned under the pinned confs). The caller's
    session conf is never touched, even transiently — the r13 form
    set-and-restored on the shared session, which silently disabled
    broadcast joins for any plan CONSTRUCTED concurrently in the same
    session during the pin window (review r14; the registry's
    concurrency contract allows exactly that)."""
    pins = {
        # sf-fixture scans are far below the 10 GB application-side gate
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "0",
        # force the shuffle join the injector targets (a broadcast dim
        # makes the rule correctly skip — nothing left to prune)
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    planner = spark.newSession()
    for k, v in pins.items():
        planner.conf.set(k, v)
    o = table(planner, sf_dir, "orders")
    c = table(planner, sf_dir, "customer").where(
        F.col("c_mktsegment") == "AUTOMOBILE"
    )
    out = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            pround(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )
    # force physical planning NOW, under the clone's pinned confs — the
    # lazy val pins the injected plan for the later collect
    out._jdf.queryExecution().executedPlan()
    return out


@query(
    "a28_listagg_within_group",
    # a08's exact ordering contract (the synthetic lineitem has duplicate
    # (orderkey, linenumber) pairs, so the value tiebreak appears on both
    # engines) — shared semantics, DIFFERENT Spark entry point: the
    # native listagg aggregate with WITHIN GROUP ordering
    oracle=ORDERED_PARTS_SQL,
)
def a28_listagg_within_group(spark, sf_dir):
    """A8's native-function twin — Spark 4.1's ``listagg(expr, delim)
    WITHIN GROUP (ORDER BY ...)``: deterministic ordered string
    aggregation as ONE native aggregate (codegen, map-side partials of
    collected buffers), where a08 composes the same contract from
    sort_array(collect_list(struct)). Both beat the reference's O(n²)
    running-window collect; the WITHIN GROUP ordering carries the
    duplicate-key value tiebreak so ties cannot flap between engines.
    SQL-text entry point — WITHIN GROUP has no DataFrame builder yet."""
    table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "lineitem_a28"
    )
    return spark.sql(
        """
        SELECT l_orderkey,
               listagg(CAST(l_partkey AS STRING), ',')
                 WITHIN GROUP (ORDER BY l_linenumber, l_partkey) AS parts
        FROM lineitem_a28 GROUP BY l_orderkey
        """
    )


@query(
    "sql09_sql_scripting",
    # the oracle inlines the variable as a CTE scalar; the threshold is
    # compat-floor-rounded to the 2dp grid on BOTH engines so last-ulp
    # AVG drift cannot flip boundary rows (the standing rounding rule),
    # and COUNT casts through BIGINT (the recurring DuckDB HUGEINT class)
    oracle=f"""
    WITH t AS (
      SELECT {sql_round("avg(l_extendedprice)", 2)} AS thr FROM lineitem)
    SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n_above,
           t.thr AS threshold
    FROM lineitem, t WHERE l_extendedprice > t.thr
    GROUP BY l_returnflag, t.thr
    """,
)
def sql09_sql_scripting(spark, sf_dir):
    """SQL-surface completion — Spark 4.1 SQL SCRIPTING (``BEGIN …
    END`` with a block-scoped ``DECLARE``/``SET`` variable): the
    parameterized-report pattern a SQL-first user migrates in — compute
    a data-derived threshold into a variable, then gate the report on
    it. The script executes sequentially at ``spark.sql`` time (the
    SET's aggregate is one scan; d19/d20 set the construction-time-work
    precedent) and returns the LAST statement's frame. The threshold is
    floor-rounded to the compat 2dp grid inside the script — the same
    expression the oracle inlines — so the gate comparison runs on the
    same grid in both engines. Block-scoped DECLARE leaves no session
    variable behind."""
    table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "lineitem_sql09"
    )
    return spark.sql(
        """
        BEGIN
          DECLARE thr DOUBLE;
          SET thr = (SELECT floor(avg(l_extendedprice) * 100 + 0.5) / 100
                     FROM lineitem_sql09);
          SELECT l_returnflag, COUNT(*) AS n_above, thr AS threshold
          FROM lineitem_sql09
          WHERE l_extendedprice > thr
          GROUP BY l_returnflag;
        END
        """
    )


@query(
    "sql10_pipe_syntax",
    oracle=f"""
    SELECT l_returnflag, l_linestatus, CAST(COUNT(*) AS BIGINT) AS n,
           {sql_round("SUM(l_quantity)", 2)} AS sum_qty,
           {sql_round("SUM(l_extendedprice)", 2)} AS sum_price
    FROM lineitem WHERE l_shipdate <= DATE '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def sql10_pipe_syntax(spark, sf_dir):
    """SQL-surface completion — Spark 4.1 PIPE syntax (`|>`), the
    linear-dataflow SQL dialect (FROM … |> WHERE … |> AGGREGATE … |>
    ORDER BY) that reads in execution order: the q1 pricing-summary
    shape through the pipe parser. Parser-path attestation (sql05's
    framing): Catalyst rewrites each pipe stage into the same logical
    operators the clause form produces, so the plan — pushdown-filtered
    scan, one partial+final hash aggregate — is identical; this pins
    that a user migrating pipe-dialect queries loses nothing. Sums ride
    the compat floor-round grid inside the AGGREGATE stage."""
    table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "lineitem_sql10"
    )
    return spark.sql(
        """
        FROM lineitem_sql10
        |> WHERE l_shipdate <= DATE '1998-09-02'
        |> AGGREGATE COUNT(*) AS n,
             floor(SUM(l_quantity) * 100 + 0.5) / 100 AS sum_qty,
             floor(SUM(l_extendedprice) * 100 + 0.5) / 100 AS sum_price
           GROUP BY l_returnflag, l_linestatus
        |> SELECT l_returnflag, l_linestatus, n, sum_qty, sum_price
        """
    )


@query(
    "sql11_sql_body_udf",
    # the oracle INLINES the function body — a SQL UDF is by definition
    # equivalent to its inlined expression, which is exactly the
    # property under attestation
    oracle=f"""
    SELECT l_returnflag,
           {sql_round("SUM(l_extendedprice * (1.0 - l_discount)"
                      " * (1.0 + l_tax))", 2)} AS net_rev,
           CAST(SUM(CASE WHEN l_extendedprice * (1.0 - l_discount)
                              * (1.0 + l_tax) > 30000.0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_big
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def sql11_sql_body_udf(spark, sf_dir):
    """SQL-surface completion (VERDICT r9 stretch #7) — Spark 4.1 SQL
    UDFs (``CREATE FUNCTION … RETURNS <type> RETURN <expr>``): the
    SQL-first extension path that needs NO Python worker at all.
    Catalyst inlines the body into the caller's expression tree at
    analysis time, so invoking the function twice (inside the sum AND
    inside a predicate) costs exactly the inlined expressions — stays
    inside whole-stage codegen, vectorizable, pushdown-eligible; the
    plan-shape test pins the absence of any Python eval node, the
    contrast with u09/sql08 (the Arrow-worker attestations). TEMPORARY
    scope keeps the registration session-local but the function is
    dropped-on-replace anyway; the oracle simply inlines the body —
    which is the semantics being attested. Sums ride the compat
    floor-round grid."""
    table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "lineitem_sql11"
    )
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION net_price(
          p DOUBLE, d DOUBLE, t DOUBLE)
        RETURNS DOUBLE
        RETURN p * (1.0 - d) * (1.0 + t)
        """
    )
    return spark.sql(
        """
        SELECT l_returnflag,
               floor(SUM(net_price(l_extendedprice, l_discount, l_tax))
                     * 100 + 0.5) / 100 AS net_rev,
               SUM(CASE WHEN net_price(l_extendedprice, l_discount, l_tax)
                             > 30000.0 THEN 1 ELSE 0 END) AS n_big
        FROM lineitem_sql11
        GROUP BY l_returnflag
        """
    )


def _pagerank_iter_sql(i: int, scale: int) -> str:
    """One unrolled fixed-point PageRank iteration as two DuckDB CTEs."""
    prev = f"r{i - 1}"
    return f"""
    c{i} AS (
      SELECT ep.dst AS node,
             SUM(({prev}.rank_fp * ep.w) // ep.out_w) AS sc
      FROM ep JOIN {prev} ON {prev}.node = ep.src GROUP BY 1
    ),
    r{i} AS (
      SELECT n.n_nationkey AS node,
             CAST({15 * scale} // (100 * nn.n_nodes)
                  + (85 * COALESCE(c{i}.sc, 0)) // 100 AS BIGINT) AS rank_fp
      FROM nation n CROSS JOIN nn
      LEFT JOIN c{i} ON c{i}.node = n.n_nationkey
    )"""


_PR_SCALE = 10**9


@query(
    "g01_pagerank_fixedpoint",
    # FIXED-POINT integer PageRank: every quantity is a bigint and every
    # division floors, so the three unrolled iterations are bit-exact in
    # both engines — float summation order (non-associative, partition-
    # dependent in Spark) never enters. The 16-bit-hash-gate discipline
    # applied to an iterative algorithm.
    oracle=f"""
    WITH e AS (
      SELECT c_nationkey AS src, s_nationkey AS dst,
             CAST(COUNT(*) AS BIGINT) AS w
      FROM orders JOIN customer ON o_custkey = c_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
      GROUP BY 1, 2
    ),
    ow AS (SELECT src, SUM(w) AS out_w FROM e GROUP BY src),
    ep AS (SELECT e.src, e.dst, e.w, ow.out_w FROM e JOIN ow USING (src)),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM nation),
    r0 AS (
      SELECT n_nationkey AS node,
             CAST({_PR_SCALE} // n_nodes AS BIGINT) AS rank_fp
      FROM nation, nn
    ),{",".join(_pagerank_iter_sql(i, _PR_SCALE) for i in (1, 2, 3))}
    SELECT CAST(r3.node AS BIGINT) AS nationkey, n.n_name,
           r3.rank_fp
    FROM r3 JOIN nation n ON r3.node = n.n_nationkey
    """,
)
def g01_pagerank_fixedpoint(spark, sf_dir):
    """Iterative graph algorithm as an unrolled DataFrame loop (r10) —
    PageRank over the customer-nation → supplier-nation trade graph
    (edge weight = lineitem count), 3 iterations, damping 0.85,
    FIXED-POINT integer arithmetic throughout: ranks live in bigint
    units of 1e-9, every division floors, so the result is bit-exact
    across engines — float SUM order (non-associative and partition-
    dependent) never enters, which is what lets an ITERATIVE
    algorithm carry a full value-hash oracle where d07's float variant
    could not. Dangling nodes leak their mass (documented variant; no
    node in this graph is dangling at the shipped SFs, and the leak is
    identical in both engines regardless).

    Scale shape: the fact-scale work is ONE pass — the 4-table join
    aggregates straight to the ≤|nations|² edge frame — and every
    iteration joins/aggregates frames bounded by the node and edge
    counts (tiny, auto-broadcast), so iteration cost is independent of
    corpus size. On a billion-node graph the same plan holds with the
    rank frame keyed and checkpointed per iteration (d07's
    documented loop discipline); the unrolled 3 iterations keep this
    registry entry a single stateless plan the driver can hash."""
    SCALE = _PR_SCALE
    nat = table(spark, sf_dir, "nation")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    l = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    edges = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(l, F.col("l_orderkey") == o.o_orderkey)
        .join(s, F.col("l_suppkey") == s.s_suppkey)
        .groupBy(
            F.col("c_nationkey").alias("src"),
            F.col("s_nationkey").alias("dst"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("w"))
    )
    outw = edges.groupBy("src").agg(F.sum("w").alias("out_w"))
    # the edge and node frames are <=|nations|^2 and |nations| rows but
    # feed every unrolled iteration — CACHED so the fact-scale 4-table
    # join behind `edges` runs once, not once per iteration per consumer
    # (uncached, the plan re-expanded it 3x: 33 scans; cached: 6)
    ep = tracked_cache(edges.join(outw, "src"))
    # ONE cached node frame carries (node, name, n_nodes) — the node
    # count rides every row so no iteration re-aggregates (or re-scans)
    # the nation table; uncached, nn's 1-row aggregate re-expanded the
    # nation scan once per unrolled level
    nn = nat.agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
    nodes = tracked_cache(
        nat.select(F.col("n_nationkey").alias("node"), "n_name")
        .crossJoin(F.broadcast(nn))
    )
    r = nodes.select(
        "node", F.expr(f"{SCALE} DIV n_nodes").alias("rank_fp")
    )
    for _ in range(3):
        contrib = (
            ep.join(r.withColumnRenamed("node", "src"), "src")
            .select(
                F.col("dst").alias("node"),
                F.expr("(rank_fp * w) DIV out_w").alias("cc"),
            )
            .groupBy("node")
            .agg(F.sum("cc").alias("sc"))
        )
        r = nodes.join(contrib, "node", "left").select(
            "node",
            (
                F.expr(f"{15 * SCALE} DIV (100 * n_nodes)")
                + F.expr("(85 * coalesce(sc, CAST(0 AS BIGINT))) DIV 100")
            )
            .cast("bigint")
            .alias("rank_fp"),
        )
    return r.join(nodes.select("node", "n_name"), "node").select(
        F.col("node").cast("bigint").alias("nationkey"),
        "n_name",
        "rank_fp",
    )


@query(
    "a29_weighted_quantiles",
    # integer threshold arithmetic (den*cum >= num*tot over bigint
    # weights) — no float boundary can flip a pick; the selected values
    # are raw data passed through untouched, so they hash bit-identical
    oracle="""
    WITH w AS (
      SELECT l_returnflag AS flag, l_extendedprice AS v,
             CAST(l_quantity AS BIGINT) AS wt,
             l_orderkey, l_linenumber
      FROM lineitem
    ),
    c AS (
      SELECT flag, v, wt,
             SUM(wt) OVER (PARTITION BY flag ORDER BY v, l_orderkey,
                           l_linenumber ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(wt) OVER (PARTITION BY flag) AS tot
      FROM w
    )
    SELECT flag AS l_returnflag,
           MIN(CASE WHEN 4 * cum >= tot THEN v END) AS wp25,
           MIN(CASE WHEN 2 * cum >= tot THEN v END) AS wp50,
           MIN(CASE WHEN 4 * cum >= 3 * tot THEN v END) AS wp75
    FROM c GROUP BY flag
    """,
)
def a29_weighted_quantiles(spark, sf_dir):
    """EXACT weighted quantiles (r10) — the quantity-weighted price
    distribution per return flag: the smallest price at which 25/50/75%
    of shipped QUANTITY (not row count) has accumulated. a19/a20 cover
    the sketch approximations; this is the exact ground truth computed
    at scale via ``operators/aggregates.weighted_quantiles`` — the
    two-phase RANGE-partitioned prefix sum (pid order == value order,
    per-bucket offsets broadcast back), so no group ever collapses onto
    one partition the way a naive per-group window would. Thresholds
    compare in pure bigint arithmetic and the picked values are raw
    data, so the whole result hashes bit-identically."""
    from pyspark_bigdata_sars_cov_2_analysis_spark.operators.aggregates import (
        weighted_quantiles,
    )

    li = table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_extendedprice",
        F.col("l_quantity").cast("bigint").alias("wt"),
        "l_orderkey",
        "l_linenumber",
    )
    return weighted_quantiles(
        li,
        keys=["l_returnflag"],
        value_col="l_extendedprice",
        weight_col="wt",
        quantiles=[(1, 4, "wp25"), (1, 2, "wp50"), (3, 4, "wp75")],
        tiebreaks=["l_orderkey", "l_linenumber"],
        # review r15: the operator's mid-plan cache had no release path
        # — registering it gives release_plan_caches() the handle, the
        # same caller-owned lifetime as o11/d24/d18/d21/s05
        cache_registrar=tracked_cache,
    )


@query(
    "sql12_unpivot_clause",
    # a21's oracle shape via DuckDB's own UNPIVOT form — parser-path
    # attestation of the SQL clause over the same melt semantics
    oracle=_UNPIVOT_SQL,
)
def sql12_unpivot_clause(spark, sf_dir):
    """SQL-surface completion (r10) — the ``UNPIVOT`` SQL clause
    (sql07's PIVOT counterpart): a21 attests ``DataFrame.unpivot``;
    this is the parser path a SQL-first user migrates with. Catalyst
    plans the clause into the same Expand node — each row fans to one
    row per value column, row-local, no shuffle, no UDF — so the melt
    costs exactly what the DataFrame form pays (sql05/sql07's
    parser≡API framing)."""
    table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "lineitem_sql12"
    )
    return spark.sql(
        """
        SELECT l_orderkey, l_linenumber, metric,
               floor(val * 100 + 0.5) / 100 AS val
        FROM (
          SELECT l_orderkey, l_linenumber, l_quantity,
                 l_extendedprice, l_discount, l_tax
          FROM lineitem_sql12 WHERE l_orderkey % 100 = 0
        ) UNPIVOT (val FOR metric IN (
          l_quantity, l_extendedprice, l_discount, l_tax))
        """
    )


@query(
    "sql13_named_parameters",
    # the oracle inlines the bound values — parameter binding is by
    # definition equivalent to literal substitution, which is the
    # contract under attestation
    oracle=f"""
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
           {sql_round("AVG(o_totalprice)", 2)} AS avg_price
    FROM orders
    WHERE o_totalprice > 150000.0 AND o_orderstatus = 'F'
    GROUP BY o_orderpriority
    """,
)
def sql13_named_parameters(spark, sf_dir):
    """SQL-surface completion (r10) — NAMED PARAMETER MARKERS
    (``spark.sql(sql, args={...})``, Spark 3.4+): the injection-safe
    parameterized-query API a SQL-first service layer migrates onto —
    values bind as typed literals at parse time (never string
    interpolation), so the plan is identical to the inlined form:
    pushdown-eligible filters, constant folding, the lot. The oracle
    inlines the same values, which IS the binding contract."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders_sql13")
    return spark.sql(
        """
        SELECT o_orderpriority, COUNT(*) AS n,
               floor(AVG(o_totalprice) * 100 + 0.5) / 100 AS avg_price
        FROM orders_sql13
        WHERE o_totalprice > :min_price AND o_orderstatus = :status
        GROUP BY o_orderpriority
        """,
        args={"min_price": 150000.0, "status": "F"},
    )
