"""Core relational operator coverage (SURVEY.md §2.2/2.4/2.5/2.6/2.7).

One registered, oracle-checked query per operator family; each composes the
library operators in :mod:`..operators` rather than inlining DataFrame calls,
so the t2 gate exercises the same code paths the pipelines use.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from pyspark_bigdata_sars_cov_2_analysis_spark.operators import (
    aggregates,
    relational,
    setops,
    sorts,
    windows,
)
from pyspark_bigdata_sars_cov_2_analysis_spark.plans.fragments import (
    ORDERED_PARTS_SQL,
)
from pyspark_bigdata_sars_cov_2_analysis_spark.plans.registry import (
    tracked_cache,
    pround,
    query,
    sql_round,
    table,
)


@query(
    "p01_project_filter",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity
    FROM lineitem WHERE l_quantity > 45
    """,
)
def p01_project_filter(spark, sf_dir):
    """P1 + P10 — narrow projection with a pushed-down predicate
    (ref: spark/jobs/cases_time_analysis.py:129,213)."""
    li = table(spark, sf_dir, "lineitem")
    out = relational.filter_rows(li, F.col("l_quantity") > 45)
    return relational.select_columns(out, "l_orderkey", "l_linenumber", "l_quantity")


@query(
    "p05_derived_cast",
    oracle=f"""
    SELECT l_orderkey, l_linenumber,
           {sql_round("l_extendedprice * (1 - l_discount)", 2)} AS revenue,
           CAST(l_quantity AS BIGINT) AS qty_int
    FROM lineitem WHERE l_linenumber = 1
    """,
)
def p05_derived_cast(spark, sf_dir):
    """P5 + P6 + F2/F3 — derived arithmetic column and cast
    (ref: spark/jobs/cases_time_analysis.py:107-117)."""
    li = table(spark, sf_dir, "lineitem")
    li = relational.filter_rows(li, F.col("l_linenumber") == 1)
    li = relational.with_derived(
        li,
        revenue=pround(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2),
        qty_int=F.col("l_quantity").cast("bigint"),
    )
    return li.select("l_orderkey", "l_linenumber", "revenue", "qty_int")


@query(
    "p09_recode",
    oracle="""
    SELECT CASE o_orderstatus WHEN 'O' THEN 'open' WHEN 'F' THEN 'finished'
                ELSE 'pending' END AS status,
           COUNT(*) AS n
    FROM orders GROUP BY 1
    """,
)
def p09_recode(spark, sf_dir):
    """P9/D4 — dictionary recode as a native when-chain; the reference used
    Python row UDFs for this (spark/jobs/cases_clinical_spectrum_analysis.py:128-144)."""
    o = table(spark, sf_dir, "orders")
    o = relational.recode_values(
        o, "o_orderstatus", {"O": "open", "F": "finished"}, default="pending"
    )
    return aggregates.group_count(
        o.withColumnRenamed("o_orderstatus", "status"), ["status"], alias="n"
    )


@query(
    "p11_filter_isin",
    oracle="""
    SELECT n_nationkey, n_name FROM nation
    WHERE n_name IN ('FRANCE', 'GERMANY', 'CHINA', 'BRAZIL')
    """,
)
def p11_filter_isin(spark, sf_dir):
    """P11 — membership filter (ref: spark/jobs/cases_time_analysis.py:164)."""
    n = table(spark, sf_dir, "nation")
    out = relational.filter_rows(
        n, F.col("n_name").isin("FRANCE", "GERMANY", "CHINA", "BRAZIL")
    )
    return out.select("n_nationkey", "n_name")


@query(
    "p12_compound_predicate",
    oracle="""
    SELECT l_orderkey, l_linenumber
    FROM lineitem
    WHERE l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
      AND l_returnflag <> 'A'
    """,
)
def p12_compound_predicate(spark, sf_dir):
    """P12/P13 — conjunctive + inequality predicates
    (ref: spark/jobs/radiography_analysis.py:98-100,241)."""
    li = table(spark, sf_dir, "lineitem")
    out = relational.filter_rows(
        li,
        F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24)
        & (F.col("l_returnflag") != "A"),
    )
    return out.select("l_orderkey", "l_linenumber")


@query(
    "p16_null_profile",
    oracle="""
    SELECT COUNT(CASE WHEN l_orderkey IS NULL THEN 1 END) AS l_orderkey,
           COUNT(CASE WHEN l_quantity IS NULL OR isnan(l_quantity) THEN 1 END) AS l_quantity,
           COUNT(CASE WHEN l_extendedprice IS NULL OR isnan(l_extendedprice) THEN 1 END) AS l_extendedprice,
           COUNT(CASE WHEN l_returnflag IS NULL THEN 1 END) AS l_returnflag,
           COUNT(CASE WHEN l_shipdate IS NULL THEN 1 END) AS l_shipdate
    FROM lineitem
    """,
)
def p16_null_profile(spark, sf_dir):
    """A7/P16 — single-pass null/NaN profile
    (ref: spark/jobs/cases_clinical_spectrum_analysis.py:220-225)."""
    li = table(spark, sf_dir, "lineitem")
    return relational.null_profile(
        li,
        ["l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag", "l_shipdate"],
    )


@query(
    "a01_grouped_sum",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {sql_round("SUM(l_quantity)", 2)} AS sum_l_quantity,
           {sql_round("SUM(l_extendedprice)", 2)} AS sum_l_extendedprice
    FROM lineitem GROUP BY l_returnflag, l_linestatus
    """,
)
def a01_grouped_sum(spark, sf_dir):
    """A1/A2 — groupBy multi-sum (ref: spark/jobs/cases_time_analysis.py:123,163)."""
    li = table(spark, sf_dir, "lineitem")
    out = aggregates.grouped_sum(
        li, ["l_returnflag", "l_linestatus"], ["l_quantity", "l_extendedprice"]
    )
    return out.select(
        "l_returnflag",
        "l_linestatus",
        pround(F.col("sum_l_quantity"), 2).alias("sum_l_quantity"),
        pround(F.col("sum_l_extendedprice"), 2).alias("sum_l_extendedprice"),
    )


@query(
    "a03_count_share",
    oracle=f"""
    SELECT lang, COUNT(*) AS count,
           {sql_round("COUNT(*) * 100.0 / SUM(COUNT(*)) OVER ()", 2)} AS percentage
    FROM documents GROUP BY lang
    """,
)
def a03_count_share(spark, sf_dir):
    """A3 — group count + share of total in ONE scan; the reference ran a
    second job for the denominator (spark/jobs/radiography_analysis.py:107-112)."""
    d = table(spark, sf_dir, "documents")
    return aggregates.count_with_share(d, ["lang"])


@query(
    "a04_max_avg",
    oracle=f"""
    SELECT o_orderpriority,
           {sql_round("MAX(o_totalprice)", 2)} AS max_price,
           {sql_round("AVG(o_totalprice)", 2)} AS avg_price
    FROM orders GROUP BY o_orderpriority
    """,
)
def a04_max_avg(spark, sf_dir):
    """A4 — max+avg agg (ref: spark/jobs/cases_clinical_spectrum_analysis.py:119)."""
    o = table(spark, sf_dir, "orders")
    return aggregates.grouped_agg(
        o,
        ["o_orderpriority"],
        pround(F.max("o_totalprice"), 2).alias("max_price"),
        pround(F.avg("o_totalprice"), 2).alias("avg_price"),
    )


@query(
    "a05_group_count",
    oracle="SELECT event_type, COUNT(*) AS count FROM events GROUP BY event_type",
)
def a05_group_count(spark, sf_dir):
    """A5 (ref: spark/jobs/cases_clinical_spectrum_analysis.py:238)."""
    e = table(spark, sf_dir, "events")
    return aggregates.group_count(e, ["event_type"])


@query(
    "a08_ordered_collect",
    oracle=ORDERED_PARTS_SQL,
)
def a08_ordered_collect(spark, sf_dir):
    """A8 — order-preserving list agg in one shuffle via
    sort_array(collect_list(struct)) instead of the reference's O(n²)
    running-window collect (spark/jobs/research_challenge_analysis.py:94-98)."""
    li = table(spark, sf_dir, "lineitem")
    # the synthetic lineitem has duplicate (orderkey, linenumber) pairs, so
    # the struct sort's implicit value tiebreak must appear in the oracle too
    return aggregates.ordered_collect(
        li, ["l_orderkey"], "l_linenumber", "l_partkey", alias="parts", joiner=","
    )


@query(
    "a09_distinct",
    oracle="SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
)
def a09_distinct(spark, sf_dir):
    """A9 — full-row distinct (ref: spark/jobs/cases_time_analysis.py:222)."""
    li = table(spark, sf_dir, "lineitem")
    return aggregates.distinct_rows(li.select("l_returnflag", "l_linestatus"))


@query(
    "w01_latest_per_group",
    oracle="""
    SELECT o_custkey, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate
    FROM (SELECT *, MAX(o_orderdate) OVER (PARTITION BY o_custkey) AS mx
          FROM orders)
    WHERE o_orderdate = mx
    """,
)
def w01_latest_per_group(spark, sf_dir):
    """W1/P14 — the reference's latest-snapshot idiom: partition max +
    equality filter, keeping ties (spark/jobs/cases_time_analysis.py:158-161)."""
    o = table(spark, sf_dir, "orders")
    out = windows.latest_per_group(o, ["o_custkey"], "o_orderdate")
    return out.select(
        "o_custkey",
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
    )


@query(
    "w02_running_sum",
    oracle=f"""
    SELECT event_id,
           {sql_round("SUM(value) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)", 2)}
             AS running_value
    FROM events
    """,
)
def w02_running_sum(spark, sf_dir):
    """W2 — running aggregate over the growing frame
    (ref: spark/jobs/research_challenge_analysis.py:96)."""
    e = table(spark, sf_dir, "events")
    out = windows.running_agg(
        e, ["user_id"], [F.col("ts"), F.col("event_id")], F.sum("value"), "running_value"
    )
    return out.select(
        "event_id", pround(F.col("running_value"), 2).alias("running_value")
    )


@query(
    "w03_topn_per_group",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders)
    WHERE rn <= 2
    """,
)
def w03_topn_per_group(spark, sf_dir):
    """W3 — deterministic top-n per group via row_number with a unique
    tiebreaker (green-field; SURVEY.md §2.5 W3)."""
    o = table(spark, sf_dir, "orders")
    out = windows.top_n_per_group(
        o, ["o_custkey"], [F.desc("o_totalprice"), F.asc("o_orderkey")], n=2
    )
    return out.select(
        "o_custkey", "o_orderkey", "o_totalprice", F.col("rn").cast("bigint").alias("rn")
    )


@query(
    "o03_topk_resort",
    oracle="""
    SELECT * FROM (
      SELECT c_custkey, c_name, c_acctbal FROM customer
      ORDER BY c_acctbal DESC, c_custkey LIMIT 10)
    ORDER BY c_acctbal ASC, c_custkey
    """,
)
def o03_topk_resort(spark, sf_dir):
    """O3 — top-k then re-sort for display, exactly the reference's
    mortality-rate pattern (spark/jobs/cases_time_analysis.py:183-189).
    Plans as TakeOrderedAndProject — no global sort of the input."""
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_acctbal")
    return sorts.top_k_resorted(
        c,
        10,
        [F.desc("c_acctbal"), F.asc("c_custkey")],
        [F.asc("c_acctbal"), F.asc("c_custkey")],
    )


@query(
    "u01_union",
    oracle="""
    SELECT event_type, COUNT(*) AS n FROM (
      SELECT event_type FROM events WHERE event_type = 'click'
      UNION ALL
      SELECT event_type FROM events WHERE event_type = 'purchase'
    ) GROUP BY event_type
    """,
)
def u01_union(spark, sf_dir):
    """U1 — n-way unionByName (ref: spark/jobs/radiography_analysis.py:93-96)."""
    e = table(spark, sf_dir, "events")
    parts = [
        e.where(F.col("event_type") == t).select("event_type")
        for t in ("click", "purchase")
    ]
    return aggregates.group_count(setops.union_all(parts), ["event_type"], alias="n")


@query(
    "u03_intersect",
    oracle="""
    SELECT c_custkey AS custkey FROM customer
    INTERSECT
    SELECT o_custkey AS custkey FROM orders
    """,
)
def u03_intersect(spark, sf_dir):
    """U3 — intersect (green-field; SURVEY.md §2.7)."""
    c = table(spark, sf_dir, "customer").select(F.col("c_custkey").alias("custkey"))
    o = table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("custkey"))
    return setops.intersect_rows(c, o)


@query(
    "u04_except",
    oracle="""
    SELECT c_custkey AS custkey FROM customer
    EXCEPT
    SELECT o_custkey AS custkey FROM orders
    """,
)
def u04_except(spark, sf_dir):
    """U3 — except/subtract: customers with no orders (set form)."""
    c = table(spark, sf_dir, "customer").select(F.col("c_custkey").alias("custkey"))
    o = table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("custkey"))
    return setops.except_rows(c, o)


@query(
    "u10_except_all",
    oracle="""
    SELECT okey, CAST(COUNT(*) AS BIGINT) AS n FROM (
      SELECT l_orderkey AS okey FROM lineitem WHERE l_discount > 0.05
      EXCEPT ALL
      SELECT l_orderkey AS okey FROM lineitem WHERE l_returnflag = 'R'
    ) GROUP BY okey
    """,
)
def u10_except_all(spark, sf_dir):
    """U3 completion — MULTISET difference (``exceptAll``): u04's
    EXCEPT collapses duplicates, but an orderkey appearing 3× on the
    discounted side and 1× on the returned side must survive exactly 2× under
    bag semantics. Physically this is a single hash aggregate over
    (value, side) counts — no distinct pre-pass, no join — so it scales
    like a groupBy. The post-aggregation keeps the attested result
    compact while the per-key count still witnesses multiplicity."""
    li = table(spark, sf_dir, "lineitem")
    a = li.where(F.col("l_discount") > 0.05).select(
        F.col("l_orderkey").alias("okey")
    )
    b = li.where(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("okey")
    )
    return setops.except_rows(a, b, keep_duplicates=True).groupBy("okey").agg(
        F.count(F.lit(1)).alias("n")
    )


@query(
    "u11_intersect_all",
    oracle="""
    SELECT okey, CAST(COUNT(*) AS BIGINT) AS n FROM (
      SELECT l_orderkey AS okey FROM lineitem WHERE l_discount > 0.05
      INTERSECT ALL
      SELECT l_orderkey AS okey FROM lineitem WHERE l_returnflag = 'R'
    ) GROUP BY okey
    """,
)
def u11_intersect_all(spark, sf_dir):
    """U3 completion — MULTISET intersection (``intersectAll``): each
    key survives min(count_left, count_right) times. Same single-hash-
    aggregate physical shape as u10."""
    li = table(spark, sf_dir, "lineitem")
    a = li.where(F.col("l_discount") > 0.05).select(
        F.col("l_orderkey").alias("okey")
    )
    b = li.where(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("okey")
    )
    return setops.intersect_rows(a, b, keep_duplicates=True).groupBy("okey").agg(
        F.count(F.lit(1)).alias("n")
    )


@query(
    "u12_union_schema_evolution",
    oracle=f"""
    SELECT user_id, COUNT(*) AS n, COUNT(value) AS n_with_value,
           {sql_round("COALESCE(SUM(value), 0)", 2)} AS total_value
    FROM (
      SELECT user_id, value FROM events WHERE event_type = 'click'
      UNION ALL
      SELECT user_id, NULL AS value FROM events WHERE event_type = 'purchase'
    ) GROUP BY user_id
    """,
)
def u12_union_schema_evolution(spark, sf_dir):
    """U1/U2 completion — ``unionByName(allowMissingColumns=True)``, the
    schema-EVOLUTION union: the second branch lacks the ``value`` column
    and Spark null-pads it by NAME instead of failing (or worse,
    misaligning positionally the way the reference's bare ``union`` would
    — SURVEY.md §7.3's 9-col vs 1-col latent bug). This is the append
    path when a 100 TB table gains a column mid-history: old partitions
    read as NULL, counts distinguish padded from real values. The oracle
    spells the padding out as an explicit NULL projection."""
    e = table(spark, sf_dir, "events")
    clicks = e.where(F.col("event_type") == "click").select("user_id", "value")
    purchases = e.where(F.col("event_type") == "purchase").select("user_id")
    u = clicks.unionByName(purchases, allowMissingColumns=True)
    return u.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.count("value").alias("n_with_value"),
        pround(F.coalesce(F.sum("value"), F.lit(0.0)), 2).alias("total_value"),
    )


@query(
    "f01_string_funcs",
    oracle=f"""
    SELECT p_partkey,
           regexp_replace(p_brand, '#', '-') AS brand_norm,
           CAST(len(string_split(p_name, ' ')) AS BIGINT) AS name_words,
           upper(p_type) AS type_upper,
           {sql_round("p_retailprice", 1)} AS price_r
    FROM part
    """,
)
def f01_string_funcs(spark, sf_dir):
    """F1/F2/F4 — regexp_replace / split+size / round
    (ref: spark/jobs/cases_time_analysis.py:112; research…py:100)."""
    p = table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.regexp_replace("p_brand", "#", "-").alias("brand_norm"),
        F.size(F.split("p_name", " ")).cast("bigint").alias("name_words"),
        F.upper("p_type").alias("type_upper"),
        pround(F.col("p_retailprice"), 1).alias("price_r"),
    )


@query(
    "f11_date_funcs",
    oracle=f"""
    SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS oyear,
           CAST(EXTRACT(MONTH FROM o_orderdate) AS BIGINT) AS omonth,
           COUNT(*) AS n, {sql_round("SUM(o_totalprice)", 2)} AS total
    FROM orders GROUP BY 1, 2
    """,
)
def f11_date_funcs(spark, sf_dir):
    """F11 — real date functions; the reference kept dates as strings and
    relied on lexicographic ordering (SURVEY.md §1.3)."""
    o = table(spark, sf_dir, "orders")
    return o.groupBy(
        F.year("o_orderdate").cast("bigint").alias("oyear"),
        F.month("o_orderdate").cast("bigint").alias("omonth"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        pround(F.sum("o_totalprice"), 2).alias("total"),
    )


@query(
    "f21_interval_arithmetic",
    # both engines CLAMP month-end on year-month interval addition
    # (Jan 31 + 1 month = Feb 29 in 2020) and agree bit-for-bit on
    # day-interval addition, interval*int scaling, and date difference
    # — probed before this oracle was written; the `clamped` flag makes
    # the month-end rule itself part of the hashed contract
    oracle="""
    WITH o AS (
      SELECT o_orderkey, CAST(o_orderdate AS DATE) AS od
      FROM orders WHERE o_orderkey % 97 = 0
    )
    SELECT o_orderkey,
           CAST(od + INTERVAL 3 MONTH AS DATE) AS due_3m,
           CAST(od + INTERVAL 45 DAY AS DATE) AS ship_45d,
           CAST(DATE '1998-12-31' - od AS BIGINT) AS days_open,
           CAST(od + INTERVAL 1 DAY * CAST(o_orderkey % 5 AS INT)
                AS DATE) AS staggered,
           EXTRACT(DAY FROM od)
             <> EXTRACT(DAY FROM od + INTERVAL 3 MONTH) AS clamped
    FROM o
    """,
)
def f21_interval_arithmetic(spark, sf_dir):
    """F-family completion (r10) — ANSI INTERVAL types, the date/time
    arithmetic surface f11's extraction functions don't touch:
    year-month interval addition (with the month-end CLAMP rule — Jan
    31 + 3 months lands on Apr 30, and the ``clamped`` flag hashes the
    rule itself), day-time interval addition, interval × integer
    scaling (per-row staggered offsets), and date difference in days.
    All four are row-local codegen expressions — the SLA/due-date
    arithmetic of any orders pipeline, executed at scan speed with no
    UDF. Spark's ``date + day-interval`` yields a timestamp (ANSI),
    cast back to DATE to match DuckDB's date-typed result."""
    o = (
        table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") % 97 == 0)
        # the parquet column is a timestamp; DATE-typed arithmetic is
        # the contract under test, so both engines cast up front
        .select("o_orderkey", F.col("o_orderdate").cast("date").alias("od"))
    )
    due = F.expr("od + INTERVAL '3' MONTH")
    return o.select(
        "o_orderkey",
        due.cast("date").alias("due_3m"),
        F.expr("od + INTERVAL '45' DAY").cast("date").alias("ship_45d"),
        F.datediff(F.lit("1998-12-31").cast("date"), F.col("od"))
        .cast("bigint")
        .alias("days_open"),
        F.expr("od + INTERVAL '1' DAY * CAST(o_orderkey % 5 AS INT)")
        .cast("date")
        .alias("staggered"),
        (F.dayofmonth("od") != F.dayofmonth(due)).alias("clamped"),
    )


@query(
    "f12_json_extract",
    oracle=f"""
    SELECT event_type,
           {sql_round("AVG(CAST(json_extract_string(props, '$.k') AS BIGINT))", 2)}
             AS avg_k
    FROM events GROUP BY event_type
    """,
)
def f12_json_extract(spark, sf_dir):
    """F12 — JSON scalar extraction over a string column (green-field;
    SURVEY.md §2.8 F12)."""
    e = table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return e.groupBy("event_type").agg(pround(F.avg(k), 2).alias("avg_k"))


@query(
    "f14_variant_json",
    oracle="""
    SELECT event_type,
           MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
           COUNT(DISTINCT CAST(json_extract_string(props, '$.k') AS BIGINT))
             AS n_distinct_k
    FROM events GROUP BY event_type
    """,
)
def f14_variant_json(spark, sf_dir):
    """Semi-structured access via Spark 4's VARIANT type: parse the JSON
    props column once into a variant, then typed-path extraction with
    ``variant_get`` — the binary-encoded representation is parsed a single
    time per row instead of re-parsing the JSON string per extraction the
    way chained ``get_json_object`` calls do (f12 keeps the string-path
    form for comparison). Oracle uses DuckDB's JSON extraction — same
    values, different encodings."""
    e = table(spark, sf_dir, "events")
    k = F.variant_get(F.parse_json("props"), "$.k", "bigint")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.max("k").alias("max_k"),
            F.countDistinct("k").alias("n_distinct_k"),
        )
    )


@query(
    "f15_map_functions",
    # the map round-trip collapses to plain relational algebra once the
    # entries are exploded back out, so the oracle needs no map support
    oracle="""
    SELECT user_id, event_type, CAST(COUNT(*) * 2 AS BIGINT) AS n2
    FROM events GROUP BY user_id, event_type
    HAVING COUNT(*) * 2 >= 4
    """,
)
def f15_map_functions(spark, sf_dir):
    """F-family completion — MAP higher-order functions, none previously
    attested: per-user (event_type → count) maps built with
    ``map_from_entries(collect_list(struct))``, values doubled through
    ``transform_values``, small entries dropped with ``map_filter``, and
    the surviving entries exploded back to rows. Map contents are
    set-valued so collect_list's nondeterministic order cannot affect
    the exploded result; every lambda runs JVM-side."""
    e = table(spark, sf_dir, "events")
    counts = e.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    m = counts.groupBy("user_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct("event_type", "n"))
        ).alias("m")
    )
    m2 = m.select(
        "user_id",
        F.map_filter(
            F.transform_values("m", lambda k, v: v * 2),
            lambda k, v: v >= 4,
        ).alias("m2"),
    )
    return m2.select(
        "user_id", F.explode("m2").alias("event_type", "n2")
    ).select("user_id", "event_type", F.col("n2").cast("bigint").alias("n2"))


@query(
    "f16_array_lambda",
    # float → double promotion is pinned by an explicit per-element CAST on
    # both sides so the comparisons/arithmetic see bit-identical doubles;
    # the L1 norm is FLOOR-quantized to integer millis before summing
    # (floor is engine-unambiguous where round's half-tie mode is not),
    # so the fold is exact integer math and needs no tolerance
    oracle="""
    SELECT vec_id,
           CAST(len(list_filter(embedding, x -> CAST(x AS DOUBLE) > 0))
                AS BIGINT) AS n_pos,
           len(list_filter(embedding, x -> CAST(x AS DOUBLE) > 2.0)) > 0
             AS any_big,
           len(list_filter(embedding,
                           x -> NOT abs(CAST(x AS DOUBLE)) < 10.0)) = 0
             AS all_small,
           CAST(list_aggregate(
             list_transform(
               embedding,
               x -> CAST(floor(abs(CAST(x AS DOUBLE)) * 1000) AS BIGINT)),
             'sum') AS BIGINT) AS l1_milli
    FROM embeddings
    """,
)
def f16_array_lambda(spark, sf_dir):
    """F-family completion — ARRAY lambda higher-order functions (f15
    covered the MAP family; u08 reaches arrays only through Arrow):
    ``filter``/``exists``/``forall``/``transform``/``aggregate`` with
    JVM-side lambdas, zero Python in the loop. This is the 100 TB way to
    compute per-row vector features (element predicates, quantized
    norms) without exploding the array — no row-count blow-up, no
    shuffle, whole-stage-codegen eligible."""
    emb = table(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    q = F.transform(
        v, lambda x: F.floor(F.abs(x) * F.lit(1000.0)).cast("bigint")
    )
    return emb.select(
        "vec_id",
        F.size(F.filter(v, lambda x: x > F.lit(0.0)))
        .cast("bigint")
        .alias("n_pos"),
        F.exists(v, lambda x: x > F.lit(2.0)).alias("any_big"),
        F.forall(v, lambda x: F.abs(x) < F.lit(10.0)).alias("all_small"),
        F.aggregate(
            q, F.lit(0).cast("bigint"), lambda acc, x: acc + x
        ).alias("l1_milli"),
    )


@query(
    "p17_summary_stats",
    oracle=f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(CASE WHEN l_quantity IS NULL THEN 1 END) AS BIGINT)
             AS qty_nulls,
           {sql_round("MIN(l_quantity)", 2)} AS qty_min,
           {sql_round("MAX(l_quantity)", 2)} AS qty_max,
           {sql_round("AVG(l_quantity)", 4)} AS qty_mean,
           {sql_round("MIN(l_extendedprice)", 2)} AS price_min,
           {sql_round("MAX(l_extendedprice)", 2)} AS price_max,
           {sql_round("AVG(l_extendedprice)", 4)} AS price_mean
    FROM lineitem
    """,
)
def p17_summary_stats(spark, sf_dir):
    """P16's sibling — the ``df.describe()``/``summary()`` profiling
    operator, rebuilt as ONE deterministic single-pass aggregate
    (count / nulls / min / max / mean per column) instead of the
    built-in's string-typed output: every statistic is a map-side-
    combined partial, so profiling a 100 TB table costs one scan and
    one 1-row exchange. Second moments (stddev/corr) live in a23."""
    li = table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(F.col("l_quantity").isNull(), 1)).alias("qty_nulls"),
        pround(F.min("l_quantity"), 2).alias("qty_min"),
        pround(F.max("l_quantity"), 2).alias("qty_max"),
        pround(F.avg("l_quantity"), 4).alias("qty_mean"),
        pround(F.min("l_extendedprice"), 2).alias("price_min"),
        pround(F.max("l_extendedprice"), 2).alias("price_max"),
        pround(F.avg("l_extendedprice"), 4).alias("price_mean"),
    )


@query(
    "f17_fuzzy_recode",
    # the corruption (drop 2nd char when event_id % 7 = 3) is planted
    # identically in both engines, so the oracle checks the RECOVERY
    # math, not clean data: every when-branch of the levenshtein
    # argmin (first-canonical-wins tiebreak) must agree with SQL's
    oracle="""
    WITH dirty AS (
      SELECT event_id,
             CASE WHEN event_id % 7 = 3
                  THEN substr(event_type, 1, 1) || substr(event_type, 3)
                  ELSE event_type END AS et,
             CAST(event_id % 7 = 3 AS INT) AS was_corrupted
      FROM events
    ),
    fixed AS (
      SELECT was_corrupted,
             CASE
               WHEN levenshtein(et, 'click') = least(
                 levenshtein(et, 'click'), levenshtein(et, 'error'),
                 levenshtein(et, 'purchase'), levenshtein(et, 'signup'),
                 levenshtein(et, 'view'))
                AND least(
                 levenshtein(et, 'click'), levenshtein(et, 'error'),
                 levenshtein(et, 'purchase'), levenshtein(et, 'signup'),
                 levenshtein(et, 'view')) <= 2 THEN 'click'
               WHEN levenshtein(et, 'error') = least(
                 levenshtein(et, 'click'), levenshtein(et, 'error'),
                 levenshtein(et, 'purchase'), levenshtein(et, 'signup'),
                 levenshtein(et, 'view'))
                AND least(
                 levenshtein(et, 'click'), levenshtein(et, 'error'),
                 levenshtein(et, 'purchase'), levenshtein(et, 'signup'),
                 levenshtein(et, 'view')) <= 2 THEN 'error'
               WHEN levenshtein(et, 'purchase') = least(
                 levenshtein(et, 'click'), levenshtein(et, 'error'),
                 levenshtein(et, 'purchase'), levenshtein(et, 'signup'),
                 levenshtein(et, 'view'))
                AND least(
                 levenshtein(et, 'click'), levenshtein(et, 'error'),
                 levenshtein(et, 'purchase'), levenshtein(et, 'signup'),
                 levenshtein(et, 'view')) <= 2 THEN 'purchase'
               WHEN levenshtein(et, 'signup') = least(
                 levenshtein(et, 'click'), levenshtein(et, 'error'),
                 levenshtein(et, 'purchase'), levenshtein(et, 'signup'),
                 levenshtein(et, 'view'))
                AND least(
                 levenshtein(et, 'click'), levenshtein(et, 'error'),
                 levenshtein(et, 'purchase'), levenshtein(et, 'signup'),
                 levenshtein(et, 'view')) <= 2 THEN 'signup'
               WHEN levenshtein(et, 'view') = least(
                 levenshtein(et, 'click'), levenshtein(et, 'error'),
                 levenshtein(et, 'purchase'), levenshtein(et, 'signup'),
                 levenshtein(et, 'view'))
                AND least(
                 levenshtein(et, 'click'), levenshtein(et, 'error'),
                 levenshtein(et, 'purchase'), levenshtein(et, 'signup'),
                 levenshtein(et, 'view')) <= 2 THEN 'view'
               ELSE et END AS event_type
      FROM dirty
    )
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(was_corrupted) AS BIGINT) AS n_fixed
    FROM fixed GROUP BY event_type
    """,
)
def f17_fuzzy_recode(spark, sf_dir):
    """F-family data cleaning — fuzzy categorical recode
    (``functions/recode.fuzzy_recode``): deterministic typos are PLANTED
    (every 7th event's type loses its 2nd character: 'click'→'cick'),
    then snapped back to the nearest canonical value by JVM
    ``levenshtein`` with first-canonical-wins tiebreak and a max-dist
    gate. The per-type counts must land back at the clean distribution
    with n_fixed witnessing that ~1/7 of rows actually round-tripped
    through the fix — a closed-loop proof of the recode, not a
    no-typos-no-op. Row-local when-chain, zero shuffle beyond the final
    count."""
    from pyspark_bigdata_sars_cov_2_analysis_spark.functions.recode import (
        fuzzy_recode,
    )

    e = table(spark, sf_dir, "events")
    corrupted = F.col("event_id") % 7 == 3
    dirty = e.select(
        F.when(
            corrupted,
            F.concat(
                F.substring("event_type", 1, 1),
                F.expr("substring(event_type, 3)"),
            ),
        )
        .otherwise(F.col("event_type"))
        .alias("et"),
        corrupted.cast("int").alias("was_corrupted"),
    )
    canon = ["click", "error", "purchase", "signup", "view"]
    return (
        dirty.select(
            fuzzy_recode(F.col("et"), canon, max_dist=2).alias("event_type"),
            "was_corrupted",
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("was_corrupted").cast("bigint").alias("n_fixed"),
        )
    )


@query(
    "p18_skew_profile",
    oracle=f"""
    WITH k AS (
      SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id),
    s AS (
      SELECT SUM(n) AS total, MAX(n) AS mx, AVG(n) AS avg_n FROM k)
    SELECT k.user_id, CAST(k.n AS BIGINT) AS n,
           {sql_round("k.n * 1.0 / s.total", 4)} AS share,
           {sql_round("s.mx / s.avg_n", 2)} AS skew_factor
    FROM k, s
    ORDER BY k.n DESC, k.user_id LIMIT 5
    """,
)
def p18_skew_profile(spark, sf_dir):
    """Operational diagnostics — the key-skew profile you measure BEFORE
    reaching for `joins.salted_join` or AQE skew hints: per-key counts,
    each hot key's share of all rows, and the max/avg skew factor (1.0 =
    uniform; the events table's planted hot users push it well above).
    Shape: one map-side-combined count per key (the same shuffle any
    join on this key would pay), a 1-row stats aggregate broadcast back
    via crossJoin, top-5 via TakeOrderedAndProject — diagnosing skew on
    a 100 TB key column costs one aggregate, not a sort. The per-key
    frame is CACHED (e11's barrier rule): it has two consumers (the
    stats aggregate and the ranked output) and Catalyst re-expands a
    crossJoin input's defining subtree per consumer — uncached, the
    events scan + count shuffle ran twice; cached, once, and the frame
    is small (two columns, one row per distinct key)."""
    e = table(spark, sf_dir, "events")
    k = tracked_cache(e.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")))
    s = k.agg(
        F.sum("n").alias("total"),
        F.max("n").alias("mx"),
        F.avg("n").alias("avg_n"),
    )
    out = k.crossJoin(F.broadcast(s)).select(
        "user_id",
        F.col("n").cast("bigint").alias("n"),
        pround(F.col("n") * 1.0 / F.col("total"), 4).alias("share"),
        pround(F.col("mx") / F.col("avg_n"), 2).alias("skew_factor"),
    )
    return out.orderBy(F.desc("n"), F.asc("user_id")).limit(5)


@query(
    "p19_snapshot_drift",
    # two deterministic "snapshots" (first vs second half of the event
    # timeline) profiled in one pass each, joined on event_type; drift
    # flag compares compat-rounded means so boundaries agree
    oracle=f"""
    WITH half AS (
      SELECT event_type, value,
             CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
                  THEN 'a' ELSE 'b' END AS snap
      FROM events),
    prof AS (
      SELECT snap, event_type, COUNT(*) AS n,
             AVG(value) AS mean_v
      FROM half GROUP BY 1, 2)
    SELECT a.event_type,
           CAST(a.n AS BIGINT) AS n_a, CAST(b.n AS BIGINT) AS n_b,
           {sql_round("a.mean_v", 3)} AS mean_a,
           {sql_round("b.mean_v", 3)} AS mean_b,
           abs({sql_round("a.mean_v", 3)} - {sql_round("b.mean_v", 3)})
             > 0.5 AS mean_drifted,
           abs(a.n - b.n) * 1.0 / a.n > 0.2 AS volume_drifted
    FROM prof a JOIN prof b
      ON a.event_type = b.event_type AND a.snap = 'a' AND b.snap = 'b'
    """,
)
def p19_snapshot_drift(spark, sf_dir):
    """Operational diagnostics — snapshot-over-snapshot DRIFT report:
    profile two generations of a table (here the deterministic first/
    second half of the event timeline standing in for yesterday's and
    today's loads) and flag per-group mean and volume drift — the check
    a production pipeline runs before promoting a new snapshot, sitting
    on p17's profile machinery. ONE scan builds both profiles (the snap
    tag is a row-local CASE, the profile one grouped aggregate); the
    self-join runs on the tiny profile frame, never the facts."""
    e = table(spark, sf_dir, "events")
    half = e.select(
        "event_type",
        "value",
        F.when(F.to_date("ts") < F.lit("2024-01-16").cast("date"), "a")
        .otherwise("b")
        .alias("snap"),
    )
    prof = half.groupBy("snap", "event_type").agg(
        F.count(F.lit(1)).alias("n"), F.avg("value").alias("mean_v")
    )
    a = prof.where(F.col("snap") == "a").select(
        "event_type",
        F.col("n").alias("n_a"),
        pround(F.col("mean_v"), 3).alias("mean_a"),
    )
    b = prof.where(F.col("snap") == "b").select(
        "event_type",
        F.col("n").alias("n_b"),
        pround(F.col("mean_v"), 3).alias("mean_b"),
    )
    return a.join(b, "event_type").select(
        "event_type",
        "n_a",
        "n_b",
        "mean_a",
        "mean_b",
        (F.abs(F.col("mean_a") - F.col("mean_b")) > 0.5).alias("mean_drifted"),
        (
            F.abs(F.col("n_a") - F.col("n_b")) * 1.0 / F.col("n_a") > 0.2
        ).alias("volume_drifted"),
    )


@query(
    "p20_join_cardinality_preflight",
    # Σ over shared keys of count_left × count_right IS the exact inner
    # equi-join cardinality; the oracle also runs the real join to pin
    # the prediction to the truth inside one hashed result
    oracle="""
    WITH l AS (SELECT user_id, COUNT(*) AS nl FROM events GROUP BY user_id),
    r AS (SELECT c_custkey, COUNT(*) AS nr FROM customer GROUP BY c_custkey)
    SELECT CAST(SUM(nl * nr) AS BIGINT) AS predicted_rows,
           (SELECT COUNT(*) FROM events JOIN customer
            ON user_id = c_custkey) AS actual_rows,
           CAST(SUM(nl * nr) AS BIGINT) =
             (SELECT COUNT(*) FROM events JOIN customer
              ON user_id = c_custkey) AS prediction_exact
    FROM l JOIN r ON l.user_id = r.c_custkey
    """,
)
def p20_join_cardinality_preflight(spark, sf_dir):
    """Operational diagnostics — the will-this-join-explode pre-flight:
    the EXACT inner equi-join cardinality is Σ over shared keys of
    n_left(k) × n_right(k), computable from two per-key count aggregates
    and a join of the (tiny) count frames — at 100 TB this costs two
    key-count shuffles instead of materializing a potentially quadratic
    join, and it's exact, not a statistics estimate. The p18 skew
    profile says WHERE the blowup concentrates; this says HOW BIG the
    output will be. The query also runs the real join and hashes
    prediction == actual, so the identity itself is driver-attested."""
    e = table(spark, sf_dir, "events")
    c = table(spark, sf_dir, "customer")
    l = e.groupBy(F.col("user_id").alias("k")).agg(F.count(F.lit(1)).alias("nl"))
    r = c.groupBy(F.col("c_custkey").alias("k")).agg(
        F.count(F.lit(1)).alias("nr")
    )
    pred = l.join(r, "k").agg(
        F.sum(F.col("nl") * F.col("nr")).cast("bigint").alias("predicted_rows")
    )
    actual = (
        e.join(c, e.user_id == c.c_custkey)
        .agg(F.count(F.lit(1)).alias("actual_rows"))
    )
    return pred.crossJoin(actual).select(
        "predicted_rows",
        "actual_rows",
        (F.col("predicted_rows") == F.col("actual_rows")).alias(
            "prediction_exact"
        ),
    )


@query(
    "f18_ansi_safe_functions",
    # DuckDB has no try_divide/try_add — the oracle spells the NULL-on-
    # failure semantics out as guards, which is exactly what the try_*
    # family promises
    oracle=f"""
    SELECT event_id,
           CASE WHEN user_id % 3 = 0 THEN NULL
                ELSE {sql_round("value / (user_id % 3)", 4)} END AS safe_div,
           TRY_CAST(CASE WHEN user_id % 2 = 0
                          THEN CAST(user_id AS VARCHAR) ELSE props END
                    AS INT) AS props_int,
           CASE WHEN user_id % 3 = 0 THEN NULL
                ELSE CAST(9223372036854775807 AS BIGINT) END AS big_ok
    FROM events
    """,
)
def f18_ansi_safe_functions(spark, sf_dir):
    """F-family completion for ANSI mode — the ``try_*`` safe variants
    (Spark 4 runs ANSI by default, where plain ``/ 0`` and overflow
    THROW mid-job): ``try_divide`` yields NULL on the planted zero
    denominators (every user_id % 3 == 0 row), ``try_cast`` parses the planted numeric half and NULLs the
    unparseable JSON half instead of erroring, and ``try_multiply``
    survives a would-overflow guard. For a 100 TB batch job this is the
    difference between one poisoned row nulling out and hour-12 of a
    backfill dying; the non-try forms stay correct for pipelines that
    WANT fail-fast. The oracle writes the NULL-on-failure contract out
    explicitly."""
    e = table(spark, sf_dir, "events")
    denom = F.col("user_id") % 3
    return e.select(
        "event_id",
        pround(F.try_divide(F.col("value"), denom), 4).alias("safe_div"),
        F.when(
            F.col("user_id") % 2 == 0, F.col("user_id").cast("string")
        )
        .otherwise(F.col("props"))
        .try_cast("int")
        .alias("props_int"),
        F.when(
            denom == 0, F.lit(None).cast("bigint")
        ).otherwise(
            F.try_multiply(
                F.lit(9223372036854775807).cast("bigint"), F.lit(1).cast("bigint")
            )
        ).alias("big_ok"),
    )


@query(
    "f19_collated_grouping",
    # DuckDB expresses the case-insensitive grouping with lower();
    # Spark uses a true COLLATION so the ENGINE merges the keys — the
    # output canonicalizes to lower for the cross-engine hash
    oracle="""
    SELECT lower(CASE WHEN event_id % 5 = 0 THEN upper(event_type)
                      ELSE event_type END) AS et_ci,
           COUNT(*) AS n
    FROM events GROUP BY 1
    """,
)
def f19_collated_grouping(spark, sf_dir):
    """Spark 4 COLLATION support — case-insensitive grouping via
    ``collate(..., 'UTF8_LCASE')``: mixed-case variants of a key
    (planted: every 5th event's type is uppercased) merge into ONE group
    at the comparison level, the way dirty categorical data actually
    needs, WITHOUT rewriting every value through lower() first — under
    collation the grouping, joins, and ORDER BY all agree on the
    equivalence while the original spellings survive for display. The
    hashed output canonicalizes with lower() so both engines emit the
    same key text; the COUNT proves the merge happened in the engine."""
    e = table(spark, sf_dir, "events")
    dirty = F.when(
        F.col("event_id") % 5 == 0, F.upper("event_type")
    ).otherwise(F.col("event_type"))
    ci = F.collate(dirty, "UTF8_LCASE")
    return (
        e.select(ci.alias("et"))
        .groupBy("et")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.lower(F.collate(F.col("et"), "UTF8_BINARY")).alias("et_ci"), "n"
        )
    )


@query(
    "f20_parse_url",
    # DuckDB has no parse_url; the oracle regexes the same planted URL
    # apart — which is exactly the contract being attested (host/path/
    # query extraction), not the parser's implementation
    oracle="""
    WITH u AS (
      SELECT doc_id,
             'https://host' || CAST(doc_id % 50 AS VARCHAR)
               || '.example.com/p/' || CAST(doc_id AS VARCHAR)
               || '?q=' || CAST(doc_id % 7 AS VARCHAR) AS url
      FROM documents)
    SELECT doc_id,
           regexp_extract(url, '^https://([^/]+)/', 1) AS host,
           regexp_extract(url, '^https://[^/]+(/[^?]*)', 1) AS path,
           regexp_extract(url, 'q=([0-9]+)', 1) AS q
    FROM u
    """,
)
def f20_parse_url(spark, sf_dir):
    """F-family completion — URL decomposition via native ``parse_url``
    (HOST/PATH/QUERY parts): the web-corpus hygiene primitive (domain
    frequency caps, per-site dedup keys, tracker-param stripping all
    start here). URLs are planted deterministically per doc_id so the
    extraction has real structure to find on any corpus; the oracle
    takes the regex route to the same parts, attesting the CONTRACT
    rather than the parser. Row-local, codegen, zero shuffle."""
    d = table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://host"),
        (F.col("doc_id") % 50).cast("string"),
        F.lit(".example.com/p/"),
        F.col("doc_id").cast("string"),
        F.lit("?q="),
        (F.col("doc_id") % 7).cast("string"),
    )
    return d.select(
        "doc_id",
        F.parse_url(url, F.lit("HOST")).alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.parse_url(url, F.lit("QUERY"), F.lit("q")).alias("q"),
    )
