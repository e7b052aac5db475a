"""Property tests (SURVEY.md §5.2 item 4).

The reference's ETL doc claims transforms are idempotent pure functions
(README.md:38-40) — here that's an executable property, plus the algebraic
invariants the oracle harness depends on: cross-engine rounding agreement,
union commutativity, aggregation invariance under physical layout, and the
window↔join greatest-per-group equivalence.
"""

from __future__ import annotations

import math

import duckdb
from hypothesis import given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from pyspark_bigdata_sars_cov_2_analysis_spark.functions.compat import (
    pyround,
    sql_round,
)
from pyspark_bigdata_sars_cov_2_analysis_spark.functions.text import normalize_text
from pyspark_bigdata_sars_cov_2_analysis_spark.operators import (
    joins,
    relational,
    setops,
    windows,
)
from pyspark_bigdata_sars_cov_2_analysis_spark.plans.registry import table
from tests.conftest import SF_ORACLE, SF_TEST
from tests.fixtures import jobs_during


# ---------- cross-engine rounding agreement (the t2 keystone) ----------

@given(
    st.floats(
        min_value=-1e9,
        max_value=1e9,
        allow_nan=False,
        allow_infinity=False,
    ),
    st.integers(min_value=0, max_value=6),
)
@settings(max_examples=300, deadline=None)
def test_pyround_matches_duckdb_sql_round(x: float, d: int):
    """pyround (Python) and sql_round (DuckDB) are the same IEEE ops —
    bit-identical on arbitrary doubles, including half-boundaries. The
    value is bound as a parameter (bit-exact), not a SQL string literal:
    DuckDB's string→DOUBLE parse can land 1 ulp off Python's, which is
    irrelevant to t2 (oracle inputs come from parquet, never literals)."""
    duck = duckdb.connect().execute(
        f"SELECT {sql_round('CAST(? AS DOUBLE)', d)}", [x]
    ).fetchone()[0]
    assert pyround(x, d) == duck or (
        math.isnan(pyround(x, d)) and math.isnan(duck)
    )


def test_pround_matches_pyround_on_spark(spark):
    """The Spark twin produces the same values as the Python twin for a
    deterministic sweep including .5/.25/.075 boundaries."""
    from pyspark_bigdata_sars_cov_2_analysis_spark.functions.compat import pround

    vals = [i / 8 for i in range(-1000, 1000)] + [37704.575, 0.125, 2.675]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    for d in (0, 2, 4):
        got = [r[0] for r in df.select(pround(F.col("v"), d)).collect()]
        want = [pyround(v, d) for v in vals]
        assert got == want, f"d={d}"


# ---------- idempotence (reference README.md:38-40, executable) ----------

def test_normalize_text_idempotent(spark):
    d = table(spark, SF_TEST, "documents")
    once = d.select(normalize_text(F.col("text")).alias("t"))
    twice = once.select(normalize_text(F.col("t")).alias("t"))
    assert once.exceptAll(twice).count() == 0
    assert twice.exceptAll(once).count() == 0


def test_fill_and_recode_idempotent(spark):
    df = spark.createDataFrame(
        [("positive",), ("negative",), (None,), ("nan",)], "result string"
    )
    f = lambda x: relational.recode_values(  # noqa: E731
        x.fillna({"result": "nan"}),
        "result",
        {"nan": "0", "positive": "1", "negative": "0"},
    )
    once, twice = f(df), f(f(df))
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))


# ---------- algebraic invariants ----------

def test_union_commutative_as_multiset(spark):
    a = table(spark, SF_TEST, "orders").where(F.col("o_orderkey") % 3 == 0)
    b = table(spark, SF_TEST, "orders").where(F.col("o_orderkey") % 3 == 1)
    ab = setops.union_all([a, b])
    ba = setops.union_all([b, a])
    assert ab.exceptAll(ba).count() == 0 and ba.exceptAll(ab).count() == 0


def test_grouped_agg_invariant_under_layout(spark):
    """The same aggregation over repartitioned/shuffled input must produce
    identical results — the distributed-correctness property every oracle
    comparison silently relies on."""
    li = table(spark, SF_TEST, "lineitem")
    base = (
        li.groupBy("l_returnflag")
        .agg(F.sum("l_quantity").alias("s"), F.count(F.lit(1)).alias("n"))
    )
    shuffled = (
        li.repartition(13, "l_partkey")
        .sortWithinPartitions("l_shipdate")
        .groupBy("l_returnflag")
        .agg(F.sum("l_quantity").alias("s"), F.count(F.lit(1)).alias("n"))
    )
    assert sorted(map(tuple, base.collect())) == sorted(
        map(tuple, shuffled.collect())
    )


def test_latest_per_group_window_join_equivalence(spark):
    """The reference's W1/P14 window idiom and the join formulation must
    select the same rows (SURVEY.md §2.3)."""
    o = table(spark, SF_TEST, "orders")
    via_window = windows.latest_per_group(o, ["o_custkey"], "o_orderdate").select(
        "o_custkey", "o_orderkey"
    )
    via_join = joins.latest_per_group_via_join(o, ["o_custkey"], "o_orderdate").select(
        "o_custkey", "o_orderkey"
    )
    assert sorted(map(tuple, via_window.collect())) == sorted(
        map(tuple, via_join.collect())
    )


def test_salting_preserves_join_under_any_fanout(spark):
    o = table(spark, SF_TEST, "orders").select("o_orderkey", "o_totalprice")
    li = table(spark, SF_TEST, "lineitem").select("l_orderkey", "l_linenumber")
    plain = sorted(
        map(tuple, li.join(o, on=li.l_orderkey == o.o_orderkey).collect())
    )
    for n in (1, 3, 16):
        salted = sorted(
            map(
                tuple,
                joins.salted_join(li, o, "l_orderkey", "o_orderkey", n_salts=n)
                .select("l_orderkey", "l_linenumber", "o_orderkey", "o_totalprice")
                .collect(),
            )
        )
        assert salted == plain, f"n_salts={n}"


def test_dup_clusters_known_graph(spark):
    """Min-label propagation must produce exact connected components:
    chain, clique, pair, and a diameter-4 path (multi-round convergence)."""
    from pyspark_bigdata_sars_cov_2_analysis_spark.llmdata import dedup

    pairs = [(1, 2), (2, 3), (10, 11), (10, 12), (11, 12), (20, 21),
             (30, 31), (31, 32), (32, 33), (33, 34)]
    df = spark.createDataFrame(pairs, "id_a bigint, id_b bigint")
    got = sorted(map(tuple, dedup.dup_clusters(df).collect()))
    want = sorted(
        [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10), (12, 10), (20, 20),
         (21, 20), (30, 30), (31, 30), (32, 30), (33, 30), (34, 30)]
    )
    assert got == want


def test_dup_clusters_nonconvergence_raises(spark):
    """If label propagation exits its iteration budget with labels still
    changing, the operator must FAIL LOUDLY — a silent return would hand
    back split clusters (chain graphs are exactly the shape that needs
    O(diameter) rounds)."""
    import pytest as _pytest

    from pyspark_bigdata_sars_cov_2_analysis_spark.llmdata import dedup

    chain = [(i, i + 1) for i in range(10)]
    df = spark.createDataFrame(chain, "id_a bigint, id_b bigint")
    with _pytest.raises(RuntimeError, match="did not converge"):
        dedup.dup_clusters(df, max_iterations=2).collect()
    # and with budget, the same chain converges to one component
    got = sorted(map(tuple, dedup.dup_clusters(df, max_iterations=20).collect()))
    assert got == [(i, 0) for i in range(11)]


def test_simhash_band_layout_covers_every_bit():
    """Every signature bit must land in exactly one band for ANY
    (bits, band_bits) — non-divisor widths get a remainder band instead of
    silently orphaning the top bits (undocumented recall loss)."""
    import pytest as _pytest

    from pyspark_bigdata_sars_cov_2_analysis_spark.llmdata.dedup import (
        simhash_band_layout,
    )

    for bits in (32, 64):
        for band_bits in range(1, bits + 1):
            layout = simhash_band_layout(bits, band_bits)
            covered = sorted(
                b for shift, width in layout for b in range(shift, shift + width)
            )
            assert covered == list(range(bits)), (bits, band_bits, layout)
        # out-of-range widths are refused, also under python -O
        for band_bits in (0, -4, bits + 1):
            with _pytest.raises(ValueError):
                simhash_band_layout(bits, band_bits)


def test_simhash_neardup_warns_when_bands_below_hamming(spark):
    """n_bands <= max_hamming voids the pigeonhole detection guarantee —
    the operator must say so instead of silently losing recall."""
    import warnings as _warnings

    from pyspark_bigdata_sars_cov_2_analysis_spark.llmdata import dedup

    d = table(spark, SF_TEST, "documents").limit(20)
    with _warnings.catch_warnings(record=True) as rec:
        _warnings.simplefilter("always")
        # band_bits=16 over 32 bits -> 2 bands <= max_hamming=6
        dedup.simhash_neardup_pairs(
            d, "doc_id", "text", max_hamming=6, band_bits=16
        )
        assert any("not guaranteed" in str(w.message) for w in rec)


def test_asof_join_semantics(spark):
    """asof_join must (a) pick the LARGEST right_ts <= left_ts per key,
    (b) see a right row landing exactly AT the left timestamp (>= tie
    rule), (c) null out rows with no preceding right row, and (d) null —
    not redirect — matches beyond tolerance_us."""
    import datetime as dt

    ts = lambda h, m=0: dt.datetime(2020, 1, 1, h, m)
    right = spark.createDataFrame(
        [(1, ts(1), 10), (1, ts(3), 30), (2, ts(5), 50)],
        "k bigint, rts timestamp, v bigint",
    )
    left = spark.createDataFrame(
        [(1, ts(0), 100), (1, ts(2), 200), (1, ts(3), 300), (2, ts(9), 400)],
        "k bigint, lts timestamp, x bigint",
    )
    got = {
        (r["k"], r["x"]): (r["v_asof"], r["rts_asof"])
        for r in joins.asof_join(
            left, right, on="k", left_ts="lts", right_ts="rts", right_cols=["v"]
        ).collect()
    }
    assert got[(1, 100)] == (None, None)          # nothing at-or-before
    assert got[(1, 200)] == (10, ts(1))           # latest preceding
    assert got[(1, 300)] == (30, ts(3))           # tie: row AT the instant
    assert got[(2, 400)] == (50, ts(5))           # per-key isolation
    # tolerance: 1-hour budget nulls the 4-hour-stale match, keeps fresh ones
    tol = {
        (r["k"], r["x"]): r["v_asof"]
        for r in joins.asof_join(
            left, right, on="k", left_ts="lts", right_ts="rts",
            right_cols=["v"], tolerance_us=3600 * 1_000_000,
        ).collect()
    }
    assert tol[(1, 200)] == 10 and tol[(1, 300)] == 30
    assert tol[(2, 400)] is None  # 4h stale > 1h tolerance
    # NULL attribute on the true as-of row must come through as NULL, not
    # fall back to a stale older row's value (struct fill, not per-column)
    right_n = spark.createDataFrame(
        [(1, ts(1), 10), (1, ts(2), None)],
        "k bigint, rts timestamp, v bigint",
    )
    left_n = spark.createDataFrame([(1, ts(3), 99)], "k bigint, lts timestamp, x bigint")
    for fn in (joins.asof_join, joins.asof_join_cogroup):
        row = fn(
            left_n, right_n, on="k", left_ts="lts", right_ts="rts",
            right_cols=["v"],
        ).collect()[0]
        assert row["v_asof"] is None and row["rts_asof"] == ts(2), (fn.__name__, row)
    # and with tolerance: the stale-but-within-window older row must not
    # resurface either
    row = joins.asof_join(
        left_n, right_n, on="k", left_ts="lts", right_ts="rts",
        right_cols=["v"], tolerance_us=3 * 3600 * 1_000_000,
    ).collect()[0]
    assert row["v_asof"] is None and row["rts_asof"] == ts(2), row


def test_asof_join_nearest_matches_pandas_merge_asof(spark):
    """r10: asof_join_nearest must agree with pandas merge_asof
    direction='nearest' on a seeded random workload (the semantics it
    names), modulo the tie rule — pandas takes the FORWARD row on
    equidistant ties, this operator the PRECEDING (documented); odd
    timestamps on one side keep the sweep tie-free so both agree, and
    an explicit tie case pins our rule separately. Tolerance must null
    out (never redirect) matches beyond the budget."""
    import random

    import pandas as pd

    rng = random.Random(11)
    left_rows = [
        (k, 2 * rng.randrange(0, 500) + 1, i)  # odd ts: never equal right
        for i, k in enumerate(rng.choices([1, 2, 3], k=60))
    ]
    right_rows = [
        (k, 2 * rng.randrange(0, 500), 100 + i)  # even ts
        for i, k in enumerate(rng.choices([1, 2, 3, 4], k=40))
    ]
    # unique (k, ts) on the right: the operator's documented precondition
    seen, rr = set(), []
    for k, t, v in right_rows:
        if (k, t) not in seen:
            seen.add((k, t))
            rr.append((k, t, v))
    lf = spark.createDataFrame(
        [(k, __import__("datetime").datetime.fromtimestamp(t, __import__("datetime").timezone.utc), x)
         for k, t, x in left_rows],
        "k bigint, lts timestamp, x bigint",
    )
    rf = spark.createDataFrame(
        [(k, __import__("datetime").datetime.fromtimestamp(t, __import__("datetime").timezone.utc), v)
         for k, t, v in rr],
        "k bigint, rts timestamp, v bigint",
    )
    got = {
        r["x"]: r["v_nearest"]
        for r in joins.asof_join_nearest(
            lf, rf, on="k", left_ts="lts", right_ts="rts", right_cols=["v"]
        ).collect()
    }
    lp = pd.DataFrame(left_rows, columns=["k", "t", "x"]).sort_values("t")
    rp = pd.DataFrame(rr, columns=["k", "t", "v"]).sort_values("t")
    want_df = pd.merge_asof(lp, rp, on="t", by="k", direction="nearest")
    want = {
        int(r.x): (None if pd.isna(r.v) else int(r.v))
        for r in want_df.itertuples()
    }
    assert got == want
    # explicit equidistant tie: preceding wins here (pandas would take
    # the forward row — the one documented divergence)
    import datetime as dt

    T = lambda s: dt.datetime.fromtimestamp(s, dt.timezone.utc)  # noqa: E731
    lf2 = spark.createDataFrame([(1, T(10), 1)], "k bigint, lts timestamp, x bigint")
    rf2 = spark.createDataFrame(
        [(1, T(5), 55), (1, T(15), 66)], "k bigint, rts timestamp, v bigint"
    )
    row = joins.asof_join_nearest(
        lf2, rf2, on="k", left_ts="lts", right_ts="rts", right_cols=["v"]
    ).collect()[0]
    assert row["v_nearest"] == 55, row
    # tolerance nulls, never redirects
    row = joins.asof_join_nearest(
        lf2, rf2, on="k", left_ts="lts", right_ts="rts", right_cols=["v"],
        tolerance_us=1_000_000,
    ).collect()[0]
    assert row["v_nearest"] is None, row
    # NULL left ts keeps NULL match columns (review r10: NULLS FIRST
    # ordering made it grab the key's earliest right row as a
    # "following" candidate before the explicit guard)
    lf3 = spark.createDataFrame(
        [(1, None, 9)], "k bigint, lts timestamp, x bigint"
    )
    row = joins.asof_join_nearest(
        lf3, rf2, on="k", left_ts="lts", right_ts="rts", right_cols=["v"]
    ).collect()[0]
    assert row["v_nearest"] is None and row["rts_nearest"] is None, row


def test_stratified_sample_deterministic_and_isolated(spark):
    """The hash gate must (a) be identical across runs and partitionings,
    (b) hit somewhere near the target rate, and (c) keep per-stratum
    decisions independent — changing one stratum's rate must not change
    which rows survive in another stratum."""
    from pyspark_bigdata_sars_cov_2_analysis_spark.llmdata import sampling

    d = table(spark, SF_ORACLE, "documents")
    pick = lambda rates: sorted(
        r[0] for r in sampling.stratified_hash_sample(
            d, "doc_id", "lang", rates=rates, default_rate=0.0
        ).select("doc_id").collect()
    )
    a = pick({"en": 0.5})
    assert a == pick({"en": 0.5})                      # rerun-stable
    b = sorted(
        r[0] for r in sampling.stratified_hash_sample(
            d.repartition(13), "doc_id", "lang", rates={"en": 0.5},
            default_rate=0.0,
        ).select("doc_id").collect()
    )
    assert a == b                                       # layout-stable
    n_en = d.where("lang = 'en'").count()
    assert abs(len(a) / n_en - 0.5) < 0.15              # near target
    with_zh = pick({"en": 0.5, "zh": 1.0})
    assert [x for x in with_zh if x in set(a)] == a     # en picks unchanged
    # rate=1.0 must keep EVERY row of the stratum (the hex-overflow trap)
    n_zh = d.where("lang = 'zh'").count()
    assert len(with_zh) == len(a) + n_zh and n_zh > 0
    from pyspark_bigdata_sars_cov_2_analysis_spark.llmdata.sampling import (
        rate_to_hex,
    )
    assert rate_to_hex(1.0) > "ffff" and rate_to_hex(0.0) == "0000"


def test_leakage_free_split_keeps_dups_together(spark):
    """Exact duplicates (same text bytes) must land on the same side of
    the split — the whole point of keying on the content fingerprint."""
    from pyspark_bigdata_sars_cov_2_analysis_spark.llmdata import sampling

    base = table(spark, SF_ORACLE, "documents").select("doc_id", "text")
    # the synthetic corpus has no byte-identical texts — inject copies
    # under fresh ids so the same-side property is actually exercised
    dups = base.limit(50).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    d = base.unionByName(dups)
    assert d.count() > d.select("text").distinct().count()
    split = sampling.leakage_free_split(
        d, "doc_id", group_key=F.md5("text"), train_rate=0.9
    )
    mixed = (
        split.groupBy(F.md5("text").alias("fp"))
        .agg(F.countDistinct("split").alias("sides"))
        .where("sides > 1")
        .count()
    )
    assert mixed == 0
    rates = dict(split.groupBy("split").count().collect())
    assert abs(rates.get("train", 0) / d.count() - 0.9) < 0.08


def test_asof_cogroup_equals_native(spark):
    """The cogrouped-pandas merge_asof formulation must be row-identical
    to the native union+window asof_join — ties, no-match nulls, and
    tolerance included — on the real events corpus."""
    d = table(spark, SF_ORACLE, "events")
    views = (
        d.where(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("view_id"))
    )
    purchases = d.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), "ts"
    )
    for tol in (None, 10 * 60 * 1_000_000):
        native = joins.asof_join(
            purchases, views, on="user_id", left_ts="ts", right_ts="ts",
            right_cols=["view_id"], tolerance_us=tol,
        )
        cg = joins.asof_join_cogroup(
            purchases, views, on="user_id", left_ts="ts", right_ts="ts",
            right_cols=["view_id"], tolerance_us=tol,
        )
        got = sorted(map(tuple, cg.collect()))
        want = sorted(map(tuple, native.collect()))
        assert got == want and len(got) > 0, f"tolerance_us={tol}"


def test_two_level_prefix_sum_equals_naive(spark):
    """The scalable two-level prefix sum must produce exactly the naive
    single-window offsets for ANY chunking — associativity made
    executable — and the chunk count must not leak into results."""
    from pyspark.sql.window import Window

    from pyspark_bigdata_sars_cov_2_analysis_spark.functions.text import token_count
    from pyspark_bigdata_sars_cov_2_analysis_spark.llmdata import packing

    d = table(spark, SF_ORACLE, "documents").select(
        "doc_id", token_count(F.col("text")).alias("n_tokens")
    )
    w = Window.orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    naive = d.select(
        "doc_id",
        (F.sum("n_tokens").over(w) - F.col("n_tokens")).cast("bigint").alias("offset"),
    )
    want = sorted(map(tuple, naive.collect()))
    for n_chunks in (1, 3, 64, 1000):
        got = sorted(
            map(
                tuple,
                packing.global_token_offsets(d, "doc_id", "n_tokens", n_chunks)
                .select("doc_id", "offset")
                .collect(),
            )
        )
        assert got == want, f"n_chunks={n_chunks}"
    # optimization r16: the chunk grid adapts to input size (one chunk
    # per _MIN_CHUNK_ROWS rows, capped at n_chunks). Force a tiny floor
    # so the MULTI-chunk path — thinned, evenly spaced quantile subset —
    # stays exercised at test scale, and values must still equal naive
    # for every effective grid.
    orig = packing._MIN_CHUNK_ROWS
    try:
        for floor in (1, 7, 10**9):
            packing._MIN_CHUNK_ROWS = floor
            got = sorted(
                map(
                    tuple,
                    packing.global_token_offsets(d, "doc_id", "n_tokens", 64)
                    .select("doc_id", "offset")
                    .collect(),
                )
            )
            assert got == want, f"_MIN_CHUNK_ROWS={floor}"
    finally:
        packing._MIN_CHUNK_ROWS = orig


def test_chunk_udtf_equals_native(spark):
    """The UDTF chunker must produce exactly the native expression
    chunker's rows on the real corpus — the extensibility seam can't
    drift from the hot-path operator."""
    from pyspark_bigdata_sars_cov_2_analysis_spark.functions.text import chunk_array
    from pyspark_bigdata_sars_cov_2_analysis_spark.udf.udtfs import register_udtfs

    register_udtfs(spark)
    # edge rows pin the empty-doc contract BOTH twins must share: empty,
    # whitespace-only, and NULL text all emit zero chunks (ADVICE r4: the
    # native chunker emitted one (0, '') chunk for empty docs while the
    # UDTF emitted none, and the corpus had no empty docs to catch it)
    edges = spark.createDataFrame(
        [(90001, ""), (90002, "   "), (90003, None), (90004, "one two")],
        "doc_id bigint, text string",
    )
    d = table(spark, SF_TEST, "documents").select("doc_id", "text").union(edges)
    d.createOrReplaceTempView("docs_for_chunking")
    via_udtf = spark.sql(
        """SELECT d.doc_id, c.chunk_idx, c.chunk
           FROM docs_for_chunking d,
                LATERAL chunk_text(d.text, 40, 30) c"""
    )
    native = d.select(
        "doc_id", F.explode(chunk_array(F.col("text"), 40, 30)).alias("c")
    ).select("doc_id", "c.chunk_idx", "c.chunk")
    got = sorted(map(tuple, via_udtf.collect()))
    want = sorted(map(tuple, native.collect()))
    assert got == want and len(got) > 0
    emitted_ids = {r[0] for r in got}
    assert {90001, 90002, 90003}.isdisjoint(emitted_ids), emitted_ids
    assert 90004 in emitted_ids


def test_simhash_attested_layout_finds_hamming_budget_pairs(spark):
    """The d06-attested layout (band_bits=4 -> 8 bands over 32 bits) must
    DETECT every pair inside the Hamming budget: 8 bands > max_hamming=6
    restores the pigeonhole guarantee the r4 byte-band layout (4 bands)
    silently voided. A single-token document's signature IS its token's
    32-bit hash (one ±1 vote per bit), so planting tokens whose hashes
    differ in exactly 5 and 6 bits plants signature pairs at exactly that
    Hamming distance. Also pins that the attested config is warning-free."""
    import hashlib
    import warnings as _warnings

    from pyspark_bigdata_sars_cov_2_analysis_spark.llmdata import dedup

    def h32(tok: str) -> int:
        return int(hashlib.md5(tok.encode()).hexdigest()[:8], 16)

    toks = [f"w{i}" for i in range(3000)]
    hashes = [h32(t) for t in toks]
    planted = {}
    for want in (5, 6):
        found = next(
            (i, j)
            for i in range(len(toks))
            for j in range(i + 1, len(toks))
            if bin(hashes[i] ^ hashes[j]).count("1") == want
        )
        planted[want] = found
    (a5, b5), (a6, b6) = planted[5], planted[6]
    rows = [
        (1, toks[a5]), (2, toks[b5]),
        (3, toks[a6]), (4, toks[b6]),
    ]
    d = spark.createDataFrame(rows, "doc_id bigint, text string")
    with _warnings.catch_warnings(record=True) as rec:
        _warnings.simplefilter("always")
        got = {
            (r.id_a, r.id_b): r.hamming
            for r in dedup.simhash_neardup_pairs(
                d, "doc_id", "text", max_hamming=6, band_bits=4
            ).collect()
        }
        assert not [w for w in rec if "not guaranteed" in str(w.message)]
    assert got.get((1, 2)) == 5, got
    assert got.get((3, 4)) == 6, got


def test_time_join_reserved_name_collision_raises(spark):
    """asof_join / binned_range_join work through internal __-prefixed
    columns; an input frame that already uses one must fail fast with a
    descriptive error, not be silently clobbered or die later with an
    ambiguous-column error (ADVICE r4)."""
    import datetime as dt

    import pytest as _pytest

    from pyspark_bigdata_sars_cov_2_analysis_spark.operators import joins

    t0 = dt.datetime(2024, 1, 1)
    bad = spark.createDataFrame(
        [(1, t0, 0)], "k bigint, ts timestamp, __ts int"
    )
    ok = spark.createDataFrame([(1, t0, 1.0)], "k bigint, ts timestamp, v double")
    with _pytest.raises(ValueError, match="asof_join.*__ts.*rename"):
        joins.asof_join(bad, ok, on="k", left_ts="ts", right_ts="ts")
    with _pytest.raises(ValueError, match="asof_join.*right.*__ts"):
        joins.asof_join(ok, bad, on="k", left_ts="ts", right_ts="ts")
    bad2 = spark.createDataFrame(
        [(1, t0, t0, 0)], "k bigint, lo timestamp, hi timestamp, __bin int"
    )
    with _pytest.raises(ValueError, match="binned_range_join.*__bin"):
        joins.binned_range_join(
            bad2, ok, F.col("lo"), F.col("hi"), ok["ts"], 1_000_000
        )


def test_dup_clusters_releases_round_checkpoints(spark):
    """Each propagation round localCheckpoints an (id, label) snapshot and
    releases the previous one through a private-API reach-in
    (Dataset.unpersist does not free localCheckpoint blocks). The reach-in
    is try/except-guarded, so a JVM-side rename would silently stop
    freeing executor storage — this pins the behavior: after a run that
    needs >=5 rounds, at most ONE checkpoint RDD (the final labels frame,
    which the returned DataFrame still depends on) may remain in storage.
    A silent break would leave one RDD per round and fail here."""
    import time as _time

    from pyspark_bigdata_sars_cov_2_analysis_spark.llmdata import dedup

    def n_cached() -> int:
        return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())

    before = n_cached()
    # diameter-9 chain -> ~10 propagation rounds, ~10 checkpoints
    chain = [(i, i + 1) for i in range(10)]
    df = spark.createDataFrame(chain, "id_a bigint, id_b bigint")
    got = dedup.dup_clusters(df, max_iterations=20).collect()
    assert len(got) == 11
    grew = None
    for _ in range(20):  # cache unpersist(blocking=False) may lag briefly
        grew = n_cached() - before
        if grew <= 1:
            break
        _time.sleep(0.25)
    assert grew is not None and grew <= 1, (
        f"dup_clusters left {grew} persisted RDDs behind (expected <=1: the "
        "final checkpoint); release_checkpoint's private-API reach-in has "
        "likely broken on this Spark version"
    )


def test_contamination_hits_planted(spark):
    """Decontamination must flag exactly the train docs sharing a word
    5-shingle with the eval set — planted: t1 embeds an eval doc's exact
    5-gram (flagged, 1 hit), t2 embeds two distinct eval 5-grams
    (2 hits), t3 shares only a 4-gram (NOT flagged), t4 is clean."""
    from pyspark_bigdata_sars_cov_2_analysis_spark.llmdata import dedup

    ev = spark.createDataFrame(
        [
            (100, "the quick brown fox jumps over the lazy dog"),
            (101, "pack my box with five dozen liquor jugs"),
        ],
        "doc_id bigint, text string",
    )
    tr = spark.createDataFrame(
        [
            (1, "intro text then the quick brown fox jumps and more"),
            (2, "quick brown fox jumps over plus pack my box with five ok"),
            (3, "brown fox jumps over nothing else here at all"),
            (4, "completely unrelated training content with many words here"),
        ],
        "doc_id bigint, text string",
    )
    got = {
        r.doc_id: r.n_hit_shingles
        for r in dedup.contamination_hits(tr, ev, "doc_id", "text", k=5).collect()
    }
    assert got == {1: 1, 2: 2}, got


def test_dedup_keep_best_planted(spark):
    """keep-best must pick the highest-quality member per exact-dup group
    (whitespace/case variants share a fingerprint) and break exact
    quality ties on minimum id."""
    from pyspark_bigdata_sars_cov_2_analysis_spark.functions.text import (
        quality_score,
    )
    from pyspark_bigdata_sars_cov_2_analysis_spark.llmdata import dedup

    # ids 1/2/3 are the same normalized text (one group, tie on quality ->
    # keeper 1); ids 10/11: same words but 11 adds stopword stuffing so 10
    # wins on quality despite the larger id being... distinct texts: they
    # normalize differently -> two groups. Instead plant the quality
    # difference INSIDE one group is impossible (same normalized text ->
    # same score), so assert the tie rule and group sizes.
    df = spark.createDataFrame(
        [
            (2, "Alpha beta   gamma delta"),
            (1, "alpha beta gamma delta"),
            (3, "ALPHA BETA GAMMA DELTA "),
            (10, "unique singleton document body"),
        ],
        "doc_id bigint, text string",
    )
    got = {
        r.keeper: r.n_copies
        for r in dedup.dedup_keep_best(
            df, "doc_id", "text", quality_score(F.col("text"))
        ).collect()
    }
    assert got == {1: 3, 10: 1}, got


def test_incremental_neardup_cross_side_only(spark):
    """Incremental dedup must emit (new, corpus) pairs only: a text
    duplicated across the batch boundary is found; the same text
    duplicated INSIDE the corpus (or inside the batch) must not produce a
    pair — those buckets' intra-side combinations are skipped, not just
    filtered."""
    from pyspark_bigdata_sars_cov_2_analysis_spark.llmdata import dedup

    body = "alpha beta gamma delta epsilon zeta eta theta"
    other = "one two three four five six seven eight nine"
    new = spark.createDataFrame(
        [(1, body), (2, other)], "doc_id bigint, text string"
    )
    corpus = spark.createDataFrame(
        [(100, body), (101, body), (102, "totally different content here ok")],
        "doc_id bigint, text string",
    )
    got = sorted(
        map(
            tuple,
            dedup.incremental_neardup_pairs(
                new, corpus, "doc_id", "text"
            ).collect(),
        )
    )
    assert got == [(1, 100), (1, 101)], got


def test_temperature_mixture_invariants(spark):
    """o06's mixture gate: zero-weight sources drop entirely, a rare
    upweighted source saturates at keep-everything, the kept set GROWS
    monotonically with budget (thresholds are prefix-monotone in the
    rate), and the decision is invariant to partitioning."""
    from pyspark_bigdata_sars_cov_2_analysis_spark.llmdata.sampling import (
        temperature_mixture_sample,
    )

    rows = [(i, "big") for i in range(400)] + [
        (1000 + i, "rare") for i in range(10)
    ] + [(2000 + i, "junk") for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id bigint, src string")
    weights = {"big": 1.0, "rare": 4.0}

    def kept(budget, frame=df):
        out = temperature_mixture_sample(
            frame, "doc_id", "src", weights, inv_temperature=2, budget=budget
        )
        return {r.doc_id for r in out.select("doc_id").collect()}

    k25 = kept(0.25)
    # junk has no weight entry -> dropped
    assert not any(2000 <= i < 2050 for i in k25)
    # rare: rate = .25*460*(16/17)/10 > 1 -> every rare row kept
    assert all(1000 + i in k25 for i in range(10))
    # budget monotonicity: bigger budget keeps a superset
    k50 = kept(0.50)
    assert k25 < k50
    # partitioning invariance: same decisions on a repartitioned frame
    assert k25 == kept(0.25, df.repartition(13))
    # negative weights are rejected loudly (their hex-encoded negative
    # rate would truncate to 'ffff' = keep-everything)
    import pytest

    with pytest.raises(ValueError):
        temperature_mixture_sample(
            df, "doc_id", "src", {"big": -1.0}, inv_temperature=1, budget=0.25
        )


def test_fuzzy_dedup_keep_best_planted(spark):
    """d13 composition on a corpus with known cluster structure: ids
    1/2/3 share one text (cluster 1, tie-on-quality → min id keeps),
    10/11 share another (cluster 10), and the singleton never appears
    (it keeps itself by construction)."""
    from pyspark_bigdata_sars_cov_2_analysis_spark.functions.text import (
        quality_score,
    )
    from pyspark_bigdata_sars_cov_2_analysis_spark.llmdata import dedup

    body_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    body_b = "one two three four five six seven eight nine ten eleven"
    df = spark.createDataFrame(
        [
            (2, body_a), (1, body_a), (3, body_a),
            (11, body_b), (10, body_b),
            (99, "totally different singleton content lives here fine"),
        ],
        "doc_id bigint, text string",
    )
    got = {
        r.cluster_id: (r.keeper, r.n_members)
        for r in dedup.fuzzy_dedup_keep_best(
            df, "doc_id", "text", quality_score(F.col("text"))
        ).collect()
    }
    assert got == {1: (1, 3), 10: (10, 2)}, got
    # ADVICE r15: the members-side broadcast hint is gated on the actual
    # member count — above the cap the join degrades to the planner's
    # choice instead of risking the 8 GB broadcast hard cap. Forcing the
    # cap to 0 exercises the no-hint path; results must be identical.
    got_nobc = {
        r.cluster_id: (r.keeper, r.n_members)
        for r in dedup.fuzzy_dedup_keep_best(
            df, "doc_id", "text", quality_score(F.col("text")),
            broadcast_max_members=0,
        ).collect()
    }
    assert got_nobc == got, got_nobc


def test_incremental_neardup_persisted_bands_equivalent(spark, tmp_path):
    """The production form (corpus bands persisted once via
    write_band_checkpoint, reused per batch) must emit exactly the pairs
    of the self-contained form, and passing both/neither corpus inputs is
    rejected."""
    import pytest

    from pyspark_bigdata_sars_cov_2_analysis_spark.llmdata import dedup
    from pyspark_bigdata_sars_cov_2_analysis_spark.plans.registry import table

    d = table(spark, "/root/testdata/sf0.001", "documents")
    new = d.where(F.col("doc_id") % 5 == 0)
    corpus = d.where(F.col("doc_id") % 5 != 0)
    path = str(tmp_path / "bands")
    dedup.write_band_checkpoint(corpus, path, "doc_id", "text")
    bands = dedup.read_band_checkpoint(spark, path, "doc_id")
    live = sorted(
        map(
            tuple,
            dedup.incremental_neardup_pairs(
                new, corpus, "doc_id", "text"
            ).collect(),
        )
    )
    persisted = sorted(
        map(
            tuple,
            dedup.incremental_neardup_pairs(
                new, None, "doc_id", "text", corpus_bands=bands
            ).collect(),
        )
    )
    assert live == persisted and len(live) > 0, (live, persisted)
    with pytest.raises(ValueError):
        dedup.incremental_neardup_pairs(new, corpus, "doc_id", "text",
                                        corpus_bands=bands)
    with pytest.raises(ValueError):
        dedup.incremental_neardup_pairs(new, None, "doc_id", "text")
    # the parameter sidecar rejects a mismatched reuse — banding the
    # batch with different params would silently match nothing
    with pytest.raises(ValueError, match="band checkpoint"):
        dedup.read_band_checkpoint(spark, path, "doc_id", num_hashes=24)


def test_rate_threshold_hex_overflow_clamp(spark):
    """ADVICE r6 asked for a second overflow guard on the in-plan
    threshold: clamp fl(rate·65536) to 65535 so a 5-hex '10000' can
    never lpad-truncate to '1000' (keeping ~6% instead of ~100%). At the
    current 2^16 granularity the multiply is an exact exponent shift, so
    rate < 1.0 provably floors to ≤ 65535 — the worst representable
    sub-1.0 rate must encode as 'ffff', never '1000', and the clamp
    keeps that true under any future non-power-of-two granularity."""
    import math

    from pyspark.sql import functions as F

    from pyspark_bigdata_sars_cov_2_analysis_spark.llmdata.sampling import (
        rate_threshold_hex,
    )

    just_below_one = math.nextafter(1.0, 0.0)
    rows = spark.createDataFrame(
        [(just_below_one,), (1.0,), (0.5,), (0.0,), (1.0 / 65536,)],
        "r double",
    ).select(rate_threshold_hex(F.col("r")).alias("t")).collect()
    assert [r.t for r in rows] == ["ffff", "g", "8000", "0000", "0001"]
    assert all(len(r.t) == 4 or r.t == "g" for r in rows)


def test_band_checkpoint_append_validates_sidecar(spark, tmp_path):
    """ADVICE r6: mode='append' must VALIDATE the recorded parameters,
    not silently re-stamp them — re-stamping would relabel old band rows
    (computed under different k/num_hashes/band_rows) with the new
    parameters, the exact undetected zero-match state the recorded
    parameters exist to prevent."""
    import pytest

    from pyspark_bigdata_sars_cov_2_analysis_spark.llmdata import dedup

    docs = spark.createDataFrame(
        [(i, f"some shingled text body number {i} for banding") for i in range(8)],
        "doc_id long, text string",
    )
    path = str(tmp_path / "bands")
    dedup.write_band_checkpoint(docs, path, "doc_id", "text", num_hashes=12)
    # mismatched parameters on append must raise, and the checkpoint
    # must keep the ORIGINAL parameters
    with pytest.raises(ValueError, match="band checkpoint"):
        dedup.write_band_checkpoint(
            docs, path, "doc_id", "text", num_hashes=24, mode="append",
            batch_id=-1,
        )
    assert dedup.read_band_checkpoint(
        spark, path, "doc_id", num_hashes=12
    ).count() > 0
    assert dedup.read_band_params(spark, path)["num_hashes"] == 12
    # matching parameters append fine and double the band rows
    before = dedup.read_band_checkpoint(spark, path, "doc_id").count()
    dedup.write_band_checkpoint(
        docs.withColumn("doc_id", F.col("doc_id") + 100),
        path, "doc_id", "text", num_hashes=12, mode="append",
        batch_id=-1,
    )
    assert dedup.read_band_checkpoint(
        spark, path, "doc_id"
    ).count() == 2 * before


def test_chunk_dedup_planted_spans(spark):
    """d14 ground truth by construction: two documents share an exact
    10-word boilerplate span at different positions; the first occurrence
    (lowest doc_id, then position) survives, the later copy is dropped,
    and unique spans pass through untouched — including reassembly
    order."""
    from pyspark_bigdata_sars_cov_2_analysis_spark.llmdata import dedup

    boiler = "one two three four five six seven eight nine ten"
    u = lambda tag: " ".join(f"{tag}{i}" for i in range(10))  # noqa: E731
    docs = spark.createDataFrame(
        [
            (1, f"{u('a')} {boiler}"),          # chunks: [a*, boiler]
            (2, f"{boiler} {u('b')}"),          # boiler dup -> dropped
            (3, u("c")),                        # untouched
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.clean_text, r.n_chunks, r.n_dropped)
        for r in dedup.chunk_dedup_keep_first(
            docs, "doc_id", "text", chunk_words=10
        ).collect()
    }
    assert got[1] == (f"{u('a')} {boiler}", 2, 0)
    assert got[2] == (u("b"), 2, 1)
    assert got[3] == (u("c"), 1, 0)


def test_chunk_dedup_null_and_empty_text(spark):
    """Pin the chunk family's degenerate-text semantics AND that the
    DuckDB oracle agrees (review r15): a NULL-text document has no
    chunks — SQL NULL propagation drops it from the output ENTIRELY, in
    the engine (ANSI size(split(NULL)) is NULL, so posexplode emits no
    rows) and in the d14 oracle (DuckDB len(string_split(NULL)) is NULL,
    so unnest(range(NULL)) emits no rows) alike. This differs from the
    d11 band ingest, where a NULL-text doc has no shingles, is never a
    dup candidate, and passes through to the output — documented in both
    docstrings; callers wanting NULL-text docs surfaced must gate them
    upstream (the t02 quality gate emits keep=false/'null_text' for
    exactly this). An EMPTY text is one ''-chunk in both engines: the
    doc survives with its empty chunk subject to normal keep-first."""
    from pyspark_bigdata_sars_cov_2_analysis_spark.llmdata import dedup

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, None), (3, ""), (4, "")],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.clean_text, r.n_chunks, r.n_dropped)
        for r in dedup.chunk_dedup_keep_first(
            docs, "doc_id", "text", chunk_words=10
        ).collect()
    }
    # NULL-text doc 2 is absent; empty-text docs chunk to one '' chunk,
    # keep-first keeps doc 3's and drops doc 4's
    assert set(got) == {1, 3, 4}
    assert got[1] == ("a b c", 1, 0)
    assert got[3] == ("", 1, 0)
    assert got[4] == ("", 1, 1)
    # the oracle's chunks CTE agrees on which docs have chunks at all
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES "
        "(1, 'a b c'), (2, NULL), (3, ''), (4, '')) t(doc_id, text)"
    )
    oracle_docs = {
        r[0]
        for r in con.execute(
            """
            WITH arrs AS (
              SELECT doc_id, string_split(text, ' ') AS w FROM documents
            )
            SELECT DISTINCT doc_id FROM arrs,
              UNNEST(range(CAST(ceil(len(w) / 10.0) AS BIGINT)))
            """
        ).fetchall()
    }
    assert oracle_docs == {1, 3, 4}


def test_dedup_families_degenerate_text_matrix(spark):
    """The cross-family degenerate-text matrix (review r15, completing
    the chunk-family pin above): every dedup family must handle NULL,
    empty, whitespace-only, and shorter-than-k text the way its
    documented semantics imply — silently inconsistent drops across
    families are how a 100 TB curation pipeline loses rows nobody can
    explain.

    - minhash (shingle-based, k=3): NULL and <k-token docs produce no
      shingles and DROP OUT of the signature frame (documented);
    - jaccard (shingle-based): same universe, so such docs can never
      pair;
    - simhash (token-based): NULL drops, but empty and whitespace-only
      docs normalize to the same single-''-token signature — and are
      therefore correctly flagged as EXACT near-dups of each other
      (identical post-normalization content IS a dup);
    - exact dedup: NULL texts group under the NULL fingerprint, and
      empty/whitespace-only share md5('') — one keep-first group."""
    from pyspark_bigdata_sars_cov_2_analysis_spark.llmdata import dedup

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, None),
            (3, ""),
            (4, "   "),
            (5, "one two"),  # 2 tokens < k=3
        ],
        "doc_id long, text string",
    )
    mh = sorted(
        r.doc_id
        for r in dedup.minhash_signatures(docs, "doc_id", "text").collect()
    )
    assert mh == [1], mh
    assert (
        dedup.jaccard_pairs(docs, "doc_id", "text").count() == 0
    )
    sh = {
        r.doc_id: r.simhash
        for r in dedup.simhash_signatures(docs, "doc_id", "text").collect()
    }
    assert sorted(sh) == [1, 3, 4, 5], sorted(sh)
    assert sh[3] == sh[4]  # '' and '   ' normalize identically
    sp = sorted(
        (r.id_a, r.id_b)
        for r in dedup.simhash_neardup_pairs(
            docs, "doc_id", "text", band_bits=4
        ).collect()
    )
    assert sp == [(3, 4)], sp
    ex = {
        r.keeper: (r.fp, r.n_copies)
        for r in dedup.exact_duplicates(docs, "doc_id", "text").collect()
    }
    assert ex[2][0] is None and ex[2][1] == 1  # NULL-fp group
    assert ex[3][1] == 2  # '' and '   ' are one group, keeper 3


def test_countmin_merge_linearity_and_overcount(spark):
    """The two Count-Min invariants a 100 TB per-shard deployment relies
    on: (1) LINEARITY — the sketch of a union equals the cell-wise merge
    of per-shard sketches, exactly, for any split of the data; (2)
    OVERCOUNT-ONLY — every point estimate ≥ the exact count (min over
    rows can never undercount). Checked on a corpus with planted hot and
    colliding-ish items."""
    from pyspark_bigdata_sars_cov_2_analysis_spark.llmdata import sketches

    items = (
        [("alpha", 50), ("beta", 30), ("gamma", 7)]
        + [(f"tail{i}", 1 + i % 3) for i in range(40)]
    )
    df = spark.createDataFrame(items, "item: string, cnt: long")
    a = df.where(F.col("cnt") % 2 == 0)
    b = df.where(F.col("cnt") % 2 != 0)

    whole = sketches.countmin_table(df, "item", "cnt")
    merged = (
        sketches.countmin_table(a, "item", "cnt")
        .unionByName(sketches.countmin_table(b, "item", "cnt"))
        .groupBy("cms_row", "bucket")
        .agg(F.sum("cell").alias("cell"))
    )
    key = lambda rows: sorted((r.cms_row, r.bucket, r.cell) for r in rows)
    assert key(whole.collect()) == key(merged.collect())

    est = {
        r.item: r.est
        for r in sketches.countmin_estimate(
            whole, df.select("item"), "item"
        ).collect()
    }
    exact = dict(items)
    assert set(est) == set(exact)
    for item, e in est.items():
        assert e >= exact[item], (item, e, exact[item])
    # sanity: the sketch is actually small (mergeable at 100 TB because
    # of this bound, depth × 256 cells max)
    assert whole.count() <= 4 * 256


def test_fuzzy_recode_tiebreak_and_passthrough(spark):
    """fuzzy_recode edge semantics: ties snap to the FIRST canonical in
    list order (deterministic, matching the SQL oracle's when-chain);
    values beyond max_dist pass through UNCHANGED (never silently
    relabeled); exact matches are fixed points."""
    from pyspark_bigdata_sars_cov_2_analysis_spark.functions.recode import (
        fuzzy_recode,
    )

    df = spark.createDataFrame(
        [("ab",), ("zzzzzz",), ("click",), ("clik",)], "v string"
    )
    # canonical ["ad", "ab2"]: "ab" is distance 1 from BOTH -> first wins
    out = {
        r.v: r.fixed
        for r in df.select(
            "v", fuzzy_recode(F.col("v"), ["ad", "ab2"], max_dist=1).alias("fixed")
        ).collect()
    }
    assert out["ab"] == "ad"          # tie -> first canonical
    assert out["zzzzzz"] == "zzzzzz"  # beyond max_dist -> passthrough
    out2 = {
        r.v: r.fixed
        for r in df.select(
            "v",
            fuzzy_recode(
                F.col("v"), ["click", "view"], max_dist=2
            ).alias("fixed"),
        ).collect()
    }
    assert out2["click"] == "click"   # exact match is a fixed point
    assert out2["clik"] == "click"    # typo snaps


def test_weighted_sample_monotone_in_weight(spark):
    """weighted_hash_sample's defining property: for a FIXED row, raising
    the weight can only ADD it to the kept set (threshold is monotone in
    weight, the md5 prefix is fixed) — so keep-sets are nested across
    weight levels, w=0 keeps nothing, w>=1 keeps everything."""
    from pyspark_bigdata_sars_cov_2_analysis_spark.llmdata.sampling import (
        weighted_hash_sample,
    )

    ids = spark.range(0, 2000).select(F.col("id").alias("doc_id"))
    kept_prev: set = set()
    for w in (0.0, 0.1, 0.35, 0.7, 1.0):
        kept = {
            r.doc_id
            for r in weighted_hash_sample(
                ids.select("doc_id", F.lit(w).alias("wt")),
                "doc_id",
                F.col("wt"),
            ).collect()
        }
        assert kept_prev <= kept, f"keep-set not nested at w={w}"
        kept_prev = kept
    assert kept_prev == set(range(2000))  # w=1.0 keeps everything
    first = {
        r.doc_id
        for r in weighted_hash_sample(
            ids.select("doc_id", F.lit(0.0).alias("wt")), "doc_id", F.col("wt")
        ).collect()
    }
    assert first == set()


def test_d16_builds_without_spark_jobs(spark):
    """d16 has one physical plan: building it runs no Spark job (no
    corpus measurement picks a plan variant), so its whole cost is paid
    by the action that consumes it."""
    from pyspark_bigdata_sars_cov_2_analysis_spark.plans.llmdata import (
        d16_containment_neardup,
    )

    # reading the table once caches its schema (no inference job later)
    table(spark, SF_TEST, "documents").count()
    df, jobs = jobs_during(spark, lambda: d16_containment_neardup(spark, SF_TEST))
    assert jobs == 0, jobs
    assert df.columns == ["id_small", "id_big", "containment"]
    spark.catalog.clearCache()


def test_containment_catches_embedded_doc_jaccard_misses(spark):
    """d16's reason to exist, planted: a 10-word doc fully embedded in a
    ~100-word doc has containment 1.0 but Jaccard ≈ 0.09 — below d03's
    0.1 threshold — so the symmetric detector misses exactly the pair
    the asymmetric one must find."""
    from pyspark_bigdata_sars_cov_2_analysis_spark.llmdata import dedup

    small = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    filler = " ".join(f"filler{i}" for i in range(90))
    big = small + " " + filler
    df = spark.createDataFrame(
        [(1, small), (2, big), (3, "entirely unrelated words about spark")],
        "doc_id long, text string",
    )
    cont = {
        (r.id_small, r.id_big): r.containment
        for r in dedup.containment_pairs(df, "doc_id", "text", k=3).collect()
    }
    assert cont.get((1, 2)) == 1.0, cont
    jac = dedup.jaccard_pairs(df, "doc_id", "text", k=3, threshold=0.1)
    assert not [
        r for r in jac.collect() if {r.id_a, r.id_b} == {1, 2}
    ], "Jaccard should sit below threshold on the embedded pair"


def test_repetition_agg_form_equals_row_local(spark):
    """The two repetition-scorer formulations — row-local interpreted
    array math vs exploded hash aggregates — must agree to the rounding
    grid on real documents including the shorter-than-k edge (both
    score 0.0)."""
    from pyspark_bigdata_sars_cov_2_analysis_spark.functions.compat import (
        pround as _pr,
    )
    from pyspark_bigdata_sars_cov_2_analysis_spark.functions.text import (
        repetition_ratio,
        repetition_ratio_agg,
    )
    from pyspark_bigdata_sars_cov_2_analysis_spark.plans.registry import table
    from tests.conftest import SF_TEST

    d = table(spark, SF_TEST, "documents").select("doc_id", "text").unionByName(
        spark.createDataFrame(
            [(990001, "a b"), (990002, "x x x x x x")],
            "doc_id long, text string",
        )
    )
    row_local = {
        r.doc_id: r.rep
        for r in d.select(
            "doc_id", _pr(repetition_ratio(F.col("text"), 3), 4).alias("rep")
        ).collect()
    }
    agg_form = {
        r.doc_id: r.rep_ratio
        for r in repetition_ratio_agg(d, "doc_id", "text", 3).collect()
    }
    assert row_local == agg_form and len(row_local) > 0
    assert agg_form[990001] == 0.0   # shorter than k
    assert agg_form[990002] == 0.75  # 4 grams, 1 distinct


def test_d18_scorer_seam_paths_identical(spark, monkeypatch):
    """VERDICT r7 #3: d18's size-probed scorer cut — the row-local plan
    (corpus below ``_D18_AGG_MIN_DOCS``) and the codegen aggregate (at
    or above it) must produce the IDENTICAL survivor set + weights.
    Both sides are forced here by moving the cut to the corpus size;
    building runs only the bounded limit-count probe."""
    from pyspark_bigdata_sars_cov_2_analysis_spark.plans import llmdata

    # r16 measured crossover (~1.4k docs cold): the cut must sit between
    # the shipped 500-doc (sf0.01 → local) and 5000-doc (sf0.1 → agg)
    # corpora so both plans stay exercised by the shipped data
    assert 500 < llmdata._D18_AGG_MIN_DOCS <= 5000

    chosen = []
    scored = llmdata._curation_scored

    def spy(d, scorer):
        chosen.append(scorer)
        return scored(d, scorer)

    monkeypatch.setattr(llmdata, "_curation_scored", spy)
    # reading the table once caches its schema, so the builds below run
    # no inference job — only the probe
    n_docs = table(spark, SF_TEST, "documents").count()

    def run(cut):
        monkeypatch.setattr(llmdata, "_D18_AGG_MIN_DOCS", cut)
        df, jobs = jobs_during(
            spark, lambda: llmdata.d18_curation_pipeline(spark, SF_TEST)
        )
        out = sorted((r.doc_id, r.weight) for r in df.collect())
        spark.catalog.clearCache()
        # a limit-count executes as 1-3 jobs depending on AQE staging —
        # the boundedness itself is structural: the code probes via
        # limit(n)
        assert 1 <= jobs <= 3, (cut, jobs)
        return out

    local, agg = run(n_docs + 1), run(n_docs)
    assert chosen == ["local", "agg"]
    assert local == agg and len(local) > 0


def test_d06_n_docs_hint_skips_sizing_count(spark):
    """VERDICT r9 #5 — the probe-hint seams must be symmetric: like
    d18's, simhash_neardup_pairs' default band_bits sizing costs one
    count() job at plan-build, and callers that pass ``n_docs`` (or pin
    ``band_bits``) must build the identical plan with ZERO pre-plan
    jobs. The hint only sizes the band layout, so hinting the TRUE
    corpus size reproduces the default path's pairs exactly."""
    from pyspark_bigdata_sars_cov_2_analysis_spark.llmdata import dedup

    docs = spark.createDataFrame(
        [(i, f"common boilerplate header text plus unique tail w{i} "
             f"x{i * 3} y{i * 7}") for i in range(40)],
        "doc_id long, text string",
    )

    def pairs(**kw):
        return sorted(
            (r.id_a, r.id_b)
            for r in dedup.simhash_neardup_pairs(
                docs, "doc_id", "text", **kw
            ).collect()
        )

    assert pairs(n_docs=40) == pairs()  # true-size hint == counted path

    def jobs(**kw):
        return jobs_during(
            spark,
            lambda: dedup.simhash_neardup_pairs(docs, "doc_id", "text", **kw),
        )[1]

    pinned = jobs(band_bits=8)
    hinted = jobs(n_docs=40)
    bare = jobs()
    assert hinted == pinned, (hinted, pinned)
    assert pinned < bare <= pinned + 3, (bare, pinned)


def test_ml01_band_contract(spark):
    """ml01's rows carry the post-training contract (hash-checkable
    since r15: MLlib training has no SQL oracle, but the model set, the
    compat-grid chance-band edges, and the in_band verdict do — the raw
    accuracies surface only in the contract-violation raise). Every
    model's accuracy must land in the data-derived chance band and say
    so in the in_band column."""
    from pyspark_bigdata_sars_cov_2_analysis_spark.plans import QUERIES
    from tests.conftest import SF_TEST

    rows = QUERIES["ml01_classifier_bench"](spark, SF_TEST).collect()
    assert {r.model for r in rows} == {
        "random_forest", "decision_tree", "logistic_regression"
    }
    for r in rows:
        assert r.band_lo < r.band_hi
        assert r.in_band, (r.model, r.band_lo, r.band_hi)
    # accuracy deliberately NOT in the frame: it is the one
    # engine-specific value, and hashing requires every column to have
    # a DuckDB twin
    assert "accuracy" not in rows[0].asDict()

    # VERDICT r8 #8 planted failure: an impossible band must RAISE
    # through the real training path (the driver's rows-only check can't
    # read booleans — only an error turns its record red), and the
    # message must carry the per-model evidence
    import pytest as _pytest

    from pyspark_bigdata_sars_cov_2_analysis_spark.plans.ml import (
        ml01_classifier_bench,
    )

    with _pytest.raises(AssertionError, match="chance-band"):
        ml01_classifier_bench(spark, SF_TEST, band=(100.0, 200.0))


def test_chunk_dedup_invariants_random_corpora(spark):
    """Seeded random-corpus sweep for d14's global invariants (beyond
    the planted boilerplate cases): over any corpus, (1) every distinct
    chunk survives EXACTLY once across all documents (sum of kept
    chunks == distinct chunk count), (2) per-doc accounting holds
    (n_chunks = ceil(words/k_words), n_dropped = n_chunks - kept), and
    (3) the first-occurrence doc (min (id, pos) per chunk) never drops
    that chunk. A 5-word vocabulary forces heavy cross-doc collisions."""
    import math
    import random

    from pyspark_bigdata_sars_cov_2_analysis_spark.llmdata import dedup

    for seed in (11, 23, 47):
        rng = random.Random(seed)
        vocab = [f"w{i}" for i in range(5)]
        docs = [
            (i, " ".join(rng.choice(vocab)
                         for _ in range(rng.randrange(5, 45))))
            for i in range(40)
        ]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        out = {
            r.doc_id: r
            for r in dedup.chunk_dedup_keep_first(
                df, "doc_id", "text", chunk_words=10
            ).collect()
        }
        # recompute ground truth in Python
        chunks = {}  # (doc, pos) order of first occurrence per chunk text
        per_doc = {}
        for doc_id, text in docs:
            w = text.split(" ")
            n = math.ceil(len(w) / 10)
            per_doc[doc_id] = n
            for pos in range(n):
                c = " ".join(w[pos * 10:(pos + 1) * 10])
                if c not in chunks or (doc_id, pos) < chunks[c]:
                    chunks[c] = (doc_id, pos)
        kept_total = sum(
            per_doc[d] - out[d].n_dropped for d in per_doc
        )
        assert kept_total == len(chunks), (seed, kept_total, len(chunks))
        for d in per_doc:
            assert out[d].n_chunks == per_doc[d], (seed, d)
            assert 0 <= out[d].n_dropped <= out[d].n_chunks
        # first-occurrence docs must retain their chunks, in order
        firsts_by_doc = {}
        for c, (d, pos) in chunks.items():
            firsts_by_doc.setdefault(d, []).append((pos, c))
        for d, pcs in firsts_by_doc.items():
            expect_sub = [c for _, c in sorted(pcs)]
            clean = out[d].clean_text
            # every first-occurrence chunk appears; ordered by position
            idx = -1
            for c in expect_sub:
                j = clean.find(c, idx + 1)
                assert j > idx, (seed, d, c)
                idx = j


def test_quality_gate_frame_equals_struct_form(spark):
    """The r9-ready frame-level gate (built r8, wired when t12 rotates
    back into the window) must reproduce the struct helper's (keep,
    reasons) EXACTLY on real documents plus planted boundary cases.
    (The perf claim — 8.7x at sf0.1 — is a measured number documented
    in quality_gate_frame's docstring, not asserted here: wall-clock
    assertions are host-noise bait.)"""
    from pyspark.sql import functions as F

    from pyspark_bigdata_sars_cov_2_analysis_spark.functions import text as T
    from pyspark_bigdata_sars_cov_2_analysis_spark.plans.registry import table
    from tests.conftest import SF_TEST

    d = table(spark, SF_TEST, "documents").select("doc_id", "text").unionByName(
        spark.createDataFrame(
            [(990001, "tiny"),                       # too_short
             (990002, " ".join(["dup"] * 80))],      # repetitious
            "doc_id long, text string",
        )
    )
    want = {
        (r.doc_id, r.keep, r.reasons)
        for r in d.select(
            "doc_id", T.quality_gate(F.col("text")).alias("g")
        ).select("doc_id", "g.keep", "g.reasons").collect()
    }
    spark.catalog.clearCache()
    got = {
        tuple(r) for r in T.quality_gate_frame(d, "doc_id", "text").collect()
    }
    assert got == want
    # ADVICE r8: the frame gate may leave no cached storage behind
    # (per-shard callers in long sessions would accumulate it)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert any("too_short" in r[2] for r in want if r[0] == 990001)
    assert any("repetitious" in r[2] for r in want if r[0] == 990002)


def test_t15_empty_document_edge_matches_oracle(spark, tmp_path):
    """Review r9: a whitespace-only/empty document has ZERO planted
    sentences, where a bare divide diverges between the engines (Spark
    NULL — or ANSI DIVIDE_BY_ZERO — vs DuckDB's IEEE inf). Both sides
    NULLIF-guard the denominator so the row agrees as NULL; proven over
    a planted mini-corpus because the read-only fixtures contain no
    empty documents (min trimmed length ~47 chars)."""
    from pyspark_bigdata_sars_cov_2_analysis_spark import plans
    from tests.oracle_harness import compare

    import pandas as pd

    sf_dir = str(tmp_path)
    # single parquet FILE, the fixture layout both engines read
    pd.DataFrame(
        {
            "doc_id": pd.array([1, 2, 3], dtype="int64"),
            "text": [
                "   ",
                "",
                "seven words make one sentence plus remainder tail "
                "words continuing past the planted boundary marker",
            ],
            "lang": ["en", "en", "en"],
        }
    ).to_parquet(f"{sf_dir}/documents.parquet")
    compare(
        spark, "t15_sentence_stats",
        plans.QUERIES["t15_sentence_stats"],
        plans.ORACLES["t15_sentence_stats"], sf_dir,
    )
    got = {
        r.doc_id: r.words_per_sentence
        for r in plans.QUERIES["t15_sentence_stats"](spark, sf_dir).collect()
    }
    assert got[1] is None and got[2] is None and got[3] is not None, got


def test_a03_share_boundary_ratio_matches_oracle(spark, tmp_path):
    """Review r9: (c/t)*100.0 and (c*100.0)/t round DIFFERENTLY on
    boundary ratios under the compat floor-round — c=23 of t=160 gives
    14.374999999999998 vs 14.375, i.e. 14.37 vs 14.38 at 2 decimals.
    The operator multiplies before dividing, matching the oracle's
    COUNT(*) * 100.0 / total; pinned here on a planted corpus that hits
    the boundary, since the shipped fixtures happen not to."""
    import pandas as pd

    from pyspark_bigdata_sars_cov_2_analysis_spark import plans
    from tests.oracle_harness import compare

    sf_dir = str(tmp_path)
    langs = ["aa"] * 23 + ["bb"] * 137  # 23/160 -> the boundary ratio
    pd.DataFrame(
        {
            "doc_id": pd.array(range(len(langs)), dtype="int64"),
            "text": [f"document body {i}" for i in range(len(langs))],
            "lang": langs,
        }
    ).to_parquet(f"{sf_dir}/documents.parquet")
    compare(
        spark, "a03_count_share",
        plans.QUERIES["a03_count_share"],
        plans.ORACLES["a03_count_share"], sf_dir,
    )
    got = {
        r.lang: r.percentage
        for r in plans.QUERIES["a03_count_share"](spark, sf_dir).collect()
    }
    assert got["aa"] == 14.38, got  # the pre-fix order produced 14.37


def test_sampling_gates_total_over_bad_rates(spark):
    """Review r9: the hex rate encoder must be TOTAL — a negative rate's
    two's-complement hex lpad-truncated to 'ffff' (keep ~everything) and
    a NaN rate satisfied rate >= 1.0 under Spark's NaN-is-greatest
    ordering (keep everything): both silent inversions of the caller's
    intent. Now: per-row negative/NaN weights keep NOTHING; driver-side
    bad budgets/weights and working-column collisions raise."""
    import pytest

    from pyspark_bigdata_sars_cov_2_analysis_spark.llmdata.sampling import (
        temperature_mixture_sample,
        weighted_hash_sample,
    )

    df = spark.createDataFrame(
        [(i, "src") for i in range(100)], "doc_id bigint, src string"
    )
    # per-row weight column: negative and NaN rows drop, valid rows gate
    w = (
        F.when(F.col("doc_id") < 30, F.lit(-0.5))
        .when(F.col("doc_id") < 60, F.lit(float("nan")))
        .otherwise(F.lit(1.0))
    )
    got = {r.doc_id for r in weighted_hash_sample(df, "doc_id", w).collect()}
    assert got == set(range(60, 100)), got
    # driver-side validation fails fast
    with pytest.raises(ValueError, match="budget"):
        temperature_mixture_sample(df, "doc_id", "src", {"src": 1.0},
                                   budget=-0.3)
    with pytest.raises(ValueError, match="budget"):
        temperature_mixture_sample(df, "doc_id", "src", {"src": 1.0},
                                   budget=float("nan"))
    with pytest.raises(ValueError, match="NaN"):
        temperature_mixture_sample(df, "doc_id", "src",
                                   {"src": float("nan")}, budget=0.25)
    clash = df.withColumn("__thresh", F.lit("keep me"))
    with pytest.raises(ValueError, match="__thresh"):
        temperature_mixture_sample(clash, "doc_id", "src", {"src": 1.0},
                                   budget=0.25)


def test_word_occurrences_escapes_regex_metacharacters(spark):
    """Review r9: the word is interpolated into a regex — unquoted,
    'c++' failed pattern compilation and 'U.S.' counted 'UXSY' as a
    hit. \\Q...\\E quoting (Java regex AND DuckDB RE2) makes the word
    literal; plain words are unchanged."""
    import pytest

    from pyspark_bigdata_sars_cov_2_analysis_spark.functions.text import (
        word_occurrences,
    )

    df = spark.createDataFrame(
        [(1, "the cat the c++ U.S. UXSY")], "id bigint, text string"
    )
    got = df.select(
        word_occurrences(F.col("text"), "the").alias("plain"),
        word_occurrences(F.col("text"), "U.S").alias("dotted"),
    ).collect()[0]
    assert got.plain == 2, got
    # '.' is literal: matches the real 'U.S.' once, NOT 'UXSY' (which
    # the unquoted pattern counted as a second hit)
    assert got.dotted == 1, got
    with pytest.raises(ValueError, match="quote terminator"):
        word_occurrences(F.col("text"), "bad\\Eword")
    # review r9 follow-up: words EDGED outside the ASCII \b word class
    # can never match the anchors, so instead of a silent always-zero
    # count they raise — including Unicode-alnum edges (café), which
    # Python's isalnum would wave through but RE2/Java \b never match
    for bad in ("c++", "U.S.", "", "+x", "x+", "café", "über"):
        with pytest.raises(ValueError, match="word class|quote"):
            word_occurrences(F.col("text"), bad)


def test_word_set_occurrences_equals_per_word_sum(spark):
    """Optimization r15: the marker/stopword batteries collapsed to ONE
    alternation regexp per word set. The one-pass count must equal the
    per-word sum EXACTLY on every input — whole-word matches of
    pure-word-char patterns cover complete word-char runs, so the
    per-word counts partition the alternation's matches. Adversarial
    rows: substring words (a/an), adjacent runs, punctuation edges,
    empty/whitespace text, repeated hits, all-markers-in-one-line."""
    import pytest

    from pyspark_bigdata_sars_cov_2_analysis_spark.functions.text import (
        LANG_MARKERS,
        STOPWORDS,
        word_occurrences,
        word_set_occurrences,
    )

    rows = [
        (1, "a the an thea athe a-the the.a the"),
        (2, ""),
        (3, "   \t\n "),
        (4, "the the the a a a an"),
        (5, "fast slow data row column hash sort merge window stream "
            "batch vector spark scan the a"),
        (6, "fasten slowly database rows columns hashing sorted"),
        (7, "a,a;a!a?a a|the(the)the[the]"),
    ]
    df = spark.createDataFrame(rows, "id bigint, text string")
    sets = dict(LANG_MARKERS)
    sets["__stops"] = STOPWORDS
    cols = []
    for name, words in sets.items():
        cols.append(word_set_occurrences(F.col("text"), words).alias(f"one_{name}"))
        cols.append(
            sum(
                (word_occurrences(F.col("text"), w) for w in words),
                F.lit(0).cast("bigint"),
            ).alias(f"sum_{name}")
        )
    for r in df.select(*cols).collect():
        for name in sets:
            assert r[f"one_{name}"] == r[f"sum_{name}"], (name, r)
    # the partition argument needs distinct words; duplicates are refused
    with pytest.raises(ValueError, match="duplicate"):
        word_set_occurrences(F.col("text"), ["the", "the"])
    # same edge guards as the per-word form
    for bad in (["c++"], ["ok", "x+"], [""]):
        with pytest.raises(ValueError, match="word class|quote"):
            word_set_occurrences(F.col("text"), bad)
    # ADVICE r15: INTERIOR non-word chars break the partition argument
    # even though word_occurrences accepts them (its \b anchors only
    # constrain the EDGES): "don" + "don't" in one alternation consumes
    # one or the other and silently undercounts vs the per-word sum.
    # Every character is checked, so such words are refused here.
    for bad in (["don't"], ["new york"], ["U.S"], ["a", "a-b"]):
        with pytest.raises(ValueError, match="word class"):
            word_set_occurrences(F.col("text"), bad)
    # ... while the per-word form still accepts them (edge guard only),
    # so the documented fallback — per-word sum — remains available
    assert word_occurrences(F.col("text"), "don't") is not None


def test_udaf_and_arrow_null_semantics(spark):
    """Review r9: the u13/u14 oracles' SUM/list_aggregate SKIP nulls, so
    a NULL embedding row and a NULL element must contribute nothing and
    an all-NULL group must aggregate to NULL — previously a None row
    crashed np.concatenate and a null element decayed to NaN whose
    int64 cast is garbage."""
    from pyspark_bigdata_sars_cov_2_analysis_spark.udf.pandas_udfs import (
        grouped_count_udaf,
        grouped_quantized_stats_arrow,
        quantized_sum_udaf,
    )

    rows = [
        (0, [1.0, 2.0]),        # q = 32768 + 65536
        (0, None),              # NULL row: skipped
        (0, [0.5, None]),       # null element: contributes nothing
        (1, None),              # all-NULL group -> NULL total
        (1, None),
    ]
    df = spark.createDataFrame(
        rows, "label int, embedding array<double>"
    )
    expect = {0: 32768 + 65536 + 16384, 1: None}

    qsum, gcount = quantized_sum_udaf(), grouped_count_udaf()
    got = {
        r.label: r.qsum_total
        for r in df.groupBy("label")
        .agg(gcount("embedding").alias("n"),
             qsum("embedding").alias("qsum_total"))
        .collect()
    }
    assert got == expect, got

    got_a = {
        r.label: r.qsum_total
        for r in df.groupBy("label")
        .applyInArrow(
            grouped_quantized_stats_arrow,
            schema="label int, n bigint, qsum_total bigint",
        )
        .collect()
    }
    assert got_a == expect, got_a


def test_forecast_zero_variance_group_yields_null(spark):
    """Review r9: a group whose x values are all identical has no OLS
    line — SQL regr_slope/regr_intercept return NULL there, and u05's
    oracle propagates it into NULL yhat. The Python fitter previously
    emitted a flat mean forecast, silently diverging from the oracle;
    now both engines agree on NULL."""
    from pyspark_bigdata_sars_cov_2_analysis_spark.timeseries.forecast import (
        linear_forecast_by_group,
    )

    df = spark.createDataFrame(
        [("flat", 5, 10.0), ("flat", 5, 20.0),
         ("line", 1, 1.0), ("line", 2, 2.0)],
        "k string, x int, y double",
    )
    got = {
        (r.key, r.step): r.yhat
        for r in linear_forecast_by_group(df, "k", "x", "y", horizon=2)
        .collect()
    }
    assert got[("flat", 1)] is None and got[("flat", 2)] is None, got
    assert got[("line", 1)] == 3.0 and got[("line", 2)] == 4.0, got


def test_asof_join_null_semantics_match_equi_contract(spark):
    """Review r9: DuckDB's ASOF JOIN (l.k = r.k AND l.ts >= r.ts — the
    j06 oracle) never matches NULL keys or NULL timestamps. The
    union+window formulation previously fabricated matches: a NULL-ts
    right row sorted FIRST (NULLS FIRST) so last(ignorenulls) carried
    its struct into genuinely match-less left rows, and NULL-keyed rows
    on both sides met in one window partition. The cogroup twin crashed
    outright on a NULL left ts (merge_asof rejects NaT keys as
    unsorted). Both forms now agree with the SQL contract and each
    other."""
    import datetime as dt

    from pyspark_bigdata_sars_cov_2_analysis_spark.operators import joins

    t = lambda h: dt.datetime(2024, 1, 1, h)  # noqa: E731
    left = spark.createDataFrame(
        [(1, t(9)), (None, t(9)), (1, None)], "k bigint, lts timestamp"
    )
    bad_right = spark.createDataFrame(
        [(1, None, 7.0), (None, t(8), 8.0)],
        "k bigint, rts timestamp, v double",
    )
    want_none = {
        (1, t(9)): (None, None),
        (None, t(9)): (None, None),
        (1, None): (None, None),
    }
    for op in (joins.asof_join, joins.asof_join_cogroup):
        got = {
            (r.k, r.lts): (r.v_asof, r.rts_asof)
            for r in op(
                left, bad_right, on="k", left_ts="lts", right_ts="rts"
            ).collect()
        }
        assert got == want_none, (op.__name__, got)
    # a real preceding row still matches through both forms, and only
    # for the non-NULL key/ts left row
    right = spark.createDataFrame(
        [(1, t(8), 7.0)], "k bigint, rts timestamp, v double"
    )
    for op in (joins.asof_join, joins.asof_join_cogroup):
        got = {
            (r.k, r.lts): r.v_asof
            for r in op(
                left, right, on="k", left_ts="lts", right_ts="rts"
            ).collect()
        }
        assert got == {(1, t(9)): 7.0, (None, t(9)): None, (1, None): None}, (
            op.__name__, got,
        )


def test_latest_per_group_twins_agree_on_null_keys(spark):
    """Review r9: partitionBy and SQL GROUP BY treat NULL as one group,
    so the join twin must compare keys null-safely or it silently drops
    the NULL-key group — the pinned window≡join equivalence held only
    because the corpus had no NULL keys. Also pins the new reserved-name
    guards on latest_per_group and salted_join."""
    import pytest as _pytest

    from pyspark_bigdata_sars_cov_2_analysis_spark.operators import (
        joins,
        windows,
    )

    df = spark.createDataFrame(
        [(None, 1, "a"), (None, 2, "b"), ("x", 1, "c")],
        "k string, d int, v string",
    )
    want = {(None, 2, "b"), ("x", 1, "c")}
    got_w = {(r.k, r.d, r.v)
             for r in windows.latest_per_group(df, ["k"], "d").collect()}
    got_j = {(r.k, r.d, r.v)
             for r in joins.latest_per_group_via_join(df, ["k"], "d").collect()}
    assert got_w == got_j == want, (got_w, got_j)
    with _pytest.raises(ValueError, match="latest_per_group.*__max"):
        windows.latest_per_group(
            df.withColumn("__max", F.lit(1)), ["k"], "d"
        )
    with _pytest.raises(ValueError, match="salted_join.*__salt"):
        joins.salted_join(df.withColumn("__salt", F.lit(1)), df, "k", "k")


def test_decode_image_stats_empty_payload_yields_null(spark):
    """Review r9: a zero-length payload made mean/var NaN and pyround
    raised ValueError inside mapInPandas, killing the stage; empty
    payloads now emit NULL stats (binary_stats' degenerate-input
    rule)."""
    from pyspark_bigdata_sars_cov_2_analysis_spark.llmdata.multimodal import (
        decode_image_stats,
    )

    df = spark.createDataFrame(
        [(1, bytearray(b"")), (2, bytearray(b"\x04\x04"))],
        "doc_id long, payload binary",
    )
    got = {
        r.doc_id: (r.mean_pixel, r.std_pixel, r.height)
        for r in decode_image_stats(df, width=2).collect()
    }
    assert got[1] == (None, None, 0), got
    assert got[2] == (4.0, 0.0, 1), got


def test_approx_top_k_exact_below_budget_degrades_above(spark):
    """Pins a27's exactness-regime argument: the approx_top_k summary is
    EXACT while maxItemsTracked exceeds the distinct universe (estimates
    equal true counts for every key), and under eviction it visibly
    degrades (the merged summary cannot represent the full universe) —
    which is why a27's est_matches_exact boolean is a real tripwire, not
    a tautology."""
    rows = [(i,) for i in range(1000)] + [(7,)] * 50
    df = spark.createDataFrame(rows, "k bigint").repartition(1)

    def run(budget, k):
        out = (
            df.groupBy((F.col("k") % 2).alias("shard"))
            .agg(
                F.expr(
                    f"approx_top_k_accumulate(k, {budget})"
                ).alias("acc")
            )
            .agg(F.expr("approx_top_k_combine(acc)").alias("c"))
            .select(
                F.explode(
                    F.expr(f"approx_top_k_estimate(c, {k})")
                ).alias("s")
            )
            .select("s.item", "s.count")
            .collect()
        )
        return {r.item: r["count"] for r in out}

    exact = {i: 1 for i in range(1000)}
    exact[7] = 51
    assert run(2000, 1000) == exact
    assert len(run(4, 4)) < 1000


def test_ivf_argmax_equals_comparator_sort(spark):
    """Optimization r16: the all-vectors cell argmax is one native
    array_max over (d, -cid) structs instead of a comparator-lambda
    array_sort. The two must agree under the documented total order
    (d DESC NULLS LAST, cid ASC) on every adversarial shape: exact
    ties (-> min cid), partial NULL d, ALL-NULL d (-> min cid), NaN
    (greatest, incl. NaN ties), singleton."""
    from pyspark_bigdata_sars_cov_2_analysis_spark.llmdata import similarity

    nan = float("nan")
    rows = [
        (1, [(0.5, 1), (0.5, 0), (0.3, 2)]),
        (2, [(None, 0), (0.1, 7), (None, 3)]),
        (3, [(None, 5), (None, 2), (None, 9)]),
        (4, [(nan, 4), (0.99, 1)]),
        (5, [(0.2, 3)]),
        (6, [(nan, 8), (nan, 2)]),
        (7, [(0.1, 2), (0.5, 9), (0.5, 4), (None, 0)]),
    ]
    df = spark.createDataFrame(
        rows, "id bigint, arr array<struct<d:double,cid:bigint>>"
    )
    old = F.element_at(
        F.array_sort(F.col("arr"), similarity._cell_cmp), 1
    )["cid"]
    new = similarity._best_cell_cid(F.col("arr"))
    bad = (
        df.select("id", old.alias("old"), new.alias("new"))
        .where(~F.col("old").eqNullSafe(F.col("new")))
        .collect()
    )
    assert bad == [], bad


def test_ivf_empty_codebook_returns_empty_not_ansi_error(spark):
    """Review r9: under Spark 4's default ANSI mode element_at(<empty
    array>, 1) THROWS, so a corpus with no ids below n_centroids (empty
    codebook) must be guarded — every IVF entry point returns empty,
    matching the former inner-join contract, instead of killing the
    stage. Also pins the probe-side NULL contract: a NULL-vector probe
    emits no cells, so it gets no neighbors."""
    from pyspark_bigdata_sars_cov_2_analysis_spark.llmdata import similarity

    df = spark.createDataFrame(
        [(1000, [1.0, 0.0]), (1001, [0.0, 1.0])],
        "vec_id bigint, embedding array<double>",
    )
    assert similarity.ivf_assign_cells(df, "vec_id", "embedding").count() == 0
    assert (
        similarity.ivf_topk(df, "vec_id", "embedding", [1000]).count() == 0
    )
    withnull = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [0.1, 1.0]), (50, None)],
        "vec_id bigint, embedding array<double>",
    )
    got = similarity.ivf_topk(
        withnull, "vec_id", "embedding", [1, 50], n_centroids=2
    ).collect()
    assert {r.query_id for r in got} == {1}, got


def test_asof_join_twins_agree_on_random_corpora(spark):
    """Seeded random sweep (review r9): the union+window asof_join and
    the merge_asof cogroup twin must produce IDENTICAL results on
    arbitrary corpora — including NULL keys, NULL timestamps on either
    side, duplicate timestamps across keys, and keys present on only one
    side. The planted NULL test pins the contract's corners; this sweep
    guards the whole surface between them."""
    import datetime as dt
    import random

    from pyspark_bigdata_sars_cov_2_analysis_spark.operators import joins

    rng = random.Random(20260815)
    base = dt.datetime(2024, 1, 1)

    def corpus(n, keys):
        return [
            (
                rng.choice(keys),
                None
                if rng.random() < 0.1
                else base + dt.timedelta(minutes=rng.randrange(500)),
                float(rng.randrange(100)),
            )
            for _ in range(n)
        ]

    for trial in range(3):
        keys = [None, 1, 2, 3, 4][: rng.randrange(2, 6)]
        left = spark.createDataFrame(
            corpus(40, keys), "k bigint, lts timestamp, lv double"
        )
        right = spark.createDataFrame(
            # unique (k, rts): pre-dedup like the operator contract asks
            list({(k, ts): (k, ts, v) for k, ts, v in corpus(30, keys)}.values()),
            "k bigint, rts timestamp, rv double",
        )
        a = joins.asof_join(left, right, on="k", left_ts="lts", right_ts="rts")
        b = joins.asof_join_cogroup(
            left, right, on="k", left_ts="lts", right_ts="rts"
        )
        ra = sorted(map(tuple, a.collect()), key=str)
        rb = sorted(map(tuple, b.collect()), key=str)
        assert ra == rb, (trial, ra[:5], rb[:5])


def test_weighted_quantiles_survive_unshared_exchanges(spark):
    """Review r10: __pid is only meaningful relative to ONE materialized
    range exchange. With exchange reuse disabled — a stand-in for any
    plan where ReuseExchange fails to fire — the uncached form sampled
    two independent boundary sets and silently misaligned the offset
    join (measured wrong medians). The cached form must agree with a
    brute-force single-partition computation regardless."""
    from pyspark_bigdata_sars_cov_2_analysis_spark.operators.aggregates import (
        weighted_quantiles,
    )

    old = spark.conf.get("spark.sql.exchange.reuse")
    spark.conf.set("spark.sql.exchange.reuse", "false")
    try:
        rows = [
            ("a" if i % 3 else "b", float((i * 37) % 1000), (i % 7) + 1)
            for i in range(5000)
        ]
        df = spark.createDataFrame(rows, "k string, v double, wt bigint")
        got = {
            r.k: (r.wp25, r.wp50, r.wp75)
            for r in weighted_quantiles(
                df, ["k"], "v", "wt",
                [(1, 4, "wp25"), (1, 2, "wp50"), (3, 4, "wp75")],
                n_range_parts=16,
            ).collect()
        }
        # brute force: python cumulative weights in value order
        import collections

        by_k = collections.defaultdict(list)
        for k, v, wt in rows:
            by_k[k].append((v, wt))
        for k, pairs in by_k.items():
            pairs.sort()
            tot = sum(w for _, w in pairs)
            want = []
            for num, den in ((1, 4), (1, 2), (3, 4)):
                cum = 0
                for v, w in pairs:
                    cum += w
                    if cum * den >= tot * num:
                        want.append(v)
                        break
            assert got[k] == tuple(want), (k, got[k], want)
    finally:
        spark.conf.set("spark.sql.exchange.reuse", old)
        spark.catalog.clearCache()


def test_simhash_bits_widen_hash_and_refuse_over_60(spark):
    """Review r14: the token hash was fixed at 32 bits, so bits=64
    silently zeroed every signature bit >= 32 — dead bands whose
    (band, val) matched every doc and a quadratic candidate blowup.
    The hash now takes ceil(bits/4) md5 hex chars (8 at the default —
    the historical hash exactly), and bits caps at 60 for the signed
    bigint conv."""
    from pyspark_bigdata_sars_cov_2_analysis_spark.llmdata import dedup

    docs = spark.createDataFrame(
        [(i, f"tok{i} alpha beta gamma delta{i}") for i in range(20)],
        "doc_id long, text string",
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match=r"\[1, 60\]"):
        dedup.simhash_signatures(docs, "doc_id", "text", bits=64)
    sigs = {
        r.doc_id: r.simhash
        for r in dedup.simhash_signatures(
            docs, "doc_id", "text", bits=40
        ).collect()
    }
    # with live upper bits, SOME signature must exceed 2^32 (each of
    # the 8 upper bits is a ~fair coin over 20 docs)
    assert any(s >= (1 << 32) for s in sigs.values()), (
        "bits=40 produced no signature with a live bit above 32"
    )


def test_lsh_bands_remainder_band_covers_trailing_hashes(spark):
    """Review r14: num_hashes % band_rows trailing min-hashes were
    computed but belonged to no band — pairs agreeing only there were
    never candidates. They now form a narrower remainder band (the
    simhash_band_layout rule)."""
    from pyspark_bigdata_sars_cov_2_analysis_spark.llmdata import dedup

    docs = spark.createDataFrame(
        [(1, "a b c d e f g"), (2, "a b c d e f h")],
        "doc_id long, text string",
    )
    sigs = dedup.minhash_signatures(docs, "doc_id", "text", 2, 12)
    banded = dedup.lsh_bands(sigs, "doc_id", num_hashes=12, band_rows=5)
    per_doc = (
        banded.groupBy("doc_id").count().collect()
    )
    assert all(r["count"] == 3 for r in per_doc), (
        "12 hashes / band_rows=5 must yield 2 full bands + 1 remainder"
    )
    # band_sig is fixed-width binary (4 bytes per u32 hash, optimization
    # r16): a full 5-hash band is 20 bytes, the 2-hash remainder band 8
    full = banded.where("band = 0").select("band_sig").first()[0]
    assert len(bytes(full)) == 20, (
        f"full band must hold 5 fixed-width hashes, got {len(bytes(full))}B"
    )
    rem = banded.where("band = 2").select("band_sig").first()[0]
    assert len(bytes(rem)) == 8, (
        f"remainder band must hold the 2 trailing hashes, got "
        f"{len(bytes(rem))}B"
    )


def test_lsh_bands_refuses_out_of_range_minhash(spark):
    """band_sig packs each min-hash into 4 bytes, so a value outside
    [0, 2^32) would be truncated into a signature shared with an
    in-range value (2^32 + 1 and 0x10000000 both encoded as 10000000).
    The u32 precondition is guarded: such a value raises."""
    import pytest as _pytest

    from pyspark_bigdata_sars_cov_2_analysis_spark.llmdata import dedup

    sigs = spark.createDataFrame(
        [(1, 1, 2, 0xFFFFFFFF), (2, (1 << 32) + 1, 2, 3), (3, -1, 2, 3)],
        "doc_id long, mh_0 long, mh_1 long, mh_2 long",
    )

    def band(doc_id):
        return dedup.lsh_bands(
            sigs.where(f"doc_id = {doc_id}"), "doc_id", num_hashes=3, band_rows=3
        ).select("band_sig").collect()

    assert bytes(band(1)[0][0]) == bytes.fromhex("0000000100000002ffffffff")
    for doc_id in (2, 3):
        with _pytest.raises(Exception, match="outside the unsigned 32-bit range"):
            band(doc_id)


def test_band_checkpoint_sig_encoding_migration(spark, tmp_path):
    """Optimization r16 (VERDICT r15 #8): band_sig moved from the
    comma-joined decimal string to fixed-width binary, recorded in the
    manifest ``params`` as sig_encoding='bin32-v2'. A checkpoint whose
    params lack the field (== implicit 'csv-v1') must be REFUSED — on
    read AND on append — with the re-seed migration named, and params
    claiming any OTHER encoding refuse the same way (validated both
    directions); a same-version checkpoint round-trips."""
    import time

    import pytest

    from pyspark_bigdata_sars_cov_2_analysis_spark.io import writers as W
    from pyspark_bigdata_sars_cov_2_analysis_spark.llmdata import dedup

    corpus = spark.createDataFrame(
        [(d, f"alpha beta gamma delta w{d} epsilon zeta") for d in range(8)],
        "doc_id long, text string",
    )
    path = str(tmp_path / "bands")
    dedup.write_band_checkpoint(corpus, path, "doc_id", "text")
    # same-version round-trip works
    assert dedup.read_band_checkpoint(spark, path, "doc_id").count() > 0

    def republish(params: dict) -> None:
        snap = W._latest_manifest(path)
        assert W._link_manifest(path, snap["version"] + 1, {
            **snap, "version": snap["version"] + 1, "params": params,
            "published_utc": time.time(),
        })

    # simulate a pre-r16 checkpoint: same params, no sig_encoding
    republish({"k": 3, "num_hashes": 12, "band_rows": 3,
               "n_sig_buckets": 16})
    with pytest.raises(ValueError, match="csv-v1.*Migrate|Migrate.*csv-v1"):
        dedup.read_band_checkpoint(spark, path, "doc_id")
    with pytest.raises(ValueError, match="Migrate"):
        dedup.write_band_checkpoint(
            corpus, path, "doc_id", "text", mode="append", batch_id=0
        )
    # ...and the other direction: a FUTURE encoding is refused too
    republish({"k": 3, "num_hashes": 12, "band_rows": 3,
               "n_sig_buckets": 16, "sig_encoding": "hash8-v3"})
    with pytest.raises(ValueError, match="hash8-v3"):
        dedup.read_band_checkpoint(spark, path, "doc_id")


def test_checkpoint_writers_refuse_foreign_modes(spark, tmp_path):
    """Review r14: mode='ignore' no-opped the data write but re-stamped
    the parameter sidecar with the caller's values, relabeling state
    computed under different parameters. Both writers refuse any mode
    but overwrite/append."""
    import pytest as _pytest

    from pyspark_bigdata_sars_cov_2_analysis_spark.llmdata import dedup

    docs = spark.createDataFrame(
        [(1, "a b c d e")], "doc_id long, text string"
    )
    with _pytest.raises(ValueError, match="'overwrite'.*'append'"):
        dedup.write_band_checkpoint(
            docs, str(tmp_path / "b"), "doc_id", "text", mode="ignore"
        )
    with _pytest.raises(ValueError, match="'overwrite'.*'append'"):
        dedup.write_chunk_checkpoint(
            docs, str(tmp_path / "c"), "doc_id", "text", mode="ignore"
        )


def test_pack_sequences_refuses_null_order_key(spark):
    """Review r14: a NULL id produced a NULL chunk, vanished through the
    inner join, and the packed output silently missed the doc. The
    row-local assert_true guard names the problem instead."""
    import pytest as _pytest

    from pyspark_bigdata_sars_cov_2_analysis_spark.llmdata.packing import (
        pack_sequences,
    )

    df = spark.createDataFrame(
        [(1, 10), (None, 5), (3, 7)], "doc_id long, n_tokens long"
    )
    with _pytest.raises(Exception, match="null order key"):
        pack_sequences(df, "doc_id", "n_tokens", seq_len=8).collect()


def test_multimodal_extractors_tolerate_null_payloads(spark):
    """Review r14: one NULL payload/text row killed whole stages with
    an opaque TypeError. Stats extractors emit NULL features; fan-out
    extractors emit no rows for the null doc; the BMP encoder drops a
    NULL text with the too-short docs."""
    from pyspark_bigdata_sars_cov_2_analysis_spark.llmdata import multimodal

    base = spark.createDataFrame(
        [(1, "hello world this is a payload of reasonable length"),
         (2, None)],
        "doc_id long, text string",
    )
    payloads = multimodal.attach_binary_payload(base)  # encode(NULL)=NULL
    stats = {r.doc_id: r for r in multimodal.binary_stats(payloads).collect()}
    assert stats[2].n_bytes is None and stats[2].first_byte is None
    assert stats[1].n_bytes > 0
    frames = multimodal.sample_frames(payloads).collect()
    assert {r.doc_id for r in frames} == {1}
    bmps = multimodal.encode_text_as_bmp(base, width=8).collect()
    assert {r.doc_id for r in bmps} == {1}
    # decode path: a real BMP next to a NULL payload
    both = multimodal.encode_text_as_bmp(base, width=8).unionByName(
        spark.createDataFrame([(2, None)], "doc_id long, payload binary")
    )
    feats = {r.doc_id: r for r in multimodal.decode_image(both).collect()}
    assert feats[2].height is None and feats[2].mean_pixel is None
    assert feats[1].height >= 1
    resized = multimodal.resize_image_nn(both).collect()
    assert {r.doc_id for r in resized} == {1}
    img_stats = {
        r.doc_id: r
        for r in multimodal.decode_image_stats(payloads).collect()
    }
    assert img_stats[2].mean_pixel is None
    assert img_stats[1].mean_pixel is not None


def test_detect_language_null_doc_is_null_not_crash(spark):
    """Review r14: a NULL document made every lang score NULL, the
    argmax filter yielded an empty array, and ANSI-mode element_at
    aborted the whole job — try_element_at detects NULL instead."""
    from pyspark_bigdata_sars_cov_2_analysis_spark.functions.text import (
        detect_language,
    )

    df = spark.createDataFrame(
        [("the quick brown fox and the dog",), (None,)], "text string"
    )
    got = [r[0] for r in df.select(detect_language(F.col("text"))).collect()]
    assert got[0] == "en" and got[1] is None


def test_ols_line_drops_null_pairs_like_sql_regr():
    """Review r14: pandas mean/sum skip NaN element-wise, so a NULL-x
    row's y still entered the intercept — SQL regr_* drops the whole
    observation. The fit now drops (x, y) pairs with any NaN."""
    import pandas as pd

    from pyspark_bigdata_sars_cov_2_analysis_spark.timeseries.forecast import (
        _ols_line,
    )

    x = pd.Series([1.0, 2.0, None])
    y = pd.Series([1.0, 2.0, 99.0])
    slope, icept = _ols_line(x, y)
    assert slope == 1.0 and icept == 0.0
    assert _ols_line(pd.Series([None]), pd.Series([1.0])) == (None, None)


def test_weighted_quantiles_keeps_null_key_group(spark):
    """Review r14: the offsets join used null-unsafe equality, so the
    NULL key group silently vanished from the output — groupBy keeps
    NULL groups and so must the two-phase quantile."""
    from pyspark_bigdata_sars_cov_2_analysis_spark.operators.aggregates import (
        weighted_quantiles,
    )

    df = spark.createDataFrame(
        [("a", 1, 1), ("a", 2, 1), ("a", 3, 2), (None, 5, 1), (None, 6, 3)],
        "k string, v long, w long",
    )
    rows = {
        r.k: r.wp50
        for r in weighted_quantiles(df, ["k"], "v", "w", [(1, 2, "wp50")])
        .collect()
    }
    assert rows == {"a": 2, None: 6}
    spark.catalog.clearCache()


def test_quality_gate_null_doc_drops_with_named_reason(spark):
    """Review r14: a NULL doc used to gate keep=NULL (silently dropped
    by any keep filter) with reasons='' (an audit trail claiming nothing
    was wrong). It now gates keep=false, reasons='null_text' — in BOTH
    the struct form and the frame form, and the frame form no longer
    loses the NULL-id row to its scorer join."""
    from pyspark_bigdata_sars_cov_2_analysis_spark.functions.text import (
        quality_gate,
        quality_gate_frame,
    )

    df = spark.createDataFrame(
        [(1, "the quick brown fox " * 20), (2, None)],
        "doc_id long, text string",
    )
    g = {
        r.doc_id: (r.g.keep, r.g.reasons)
        for r in df.select(
            "doc_id", quality_gate(F.col("text")).alias("g")
        ).collect()
    }
    assert g[2] == (False, "null_text")
    assert g[1][0] in (True, False) and g[1][0] is not None
    got = {
        r.doc_id: (r.keep, r.reasons)
        for r in quality_gate_frame(df, "doc_id", "text").collect()
    }
    assert got == g, got


def test_chunk_text_udtf_matches_chunk_array_on_unicode_space(spark):
    """Review r14: Python str.split() tokenizes on Unicode whitespace
    while chunk_array's Java \\s+ is ASCII-only, so an NBSP document
    chunked differently in the two twins. The UDTF now replicates the
    exact Spark normalization chain."""
    from pyspark_bigdata_sars_cov_2_analysis_spark.functions.text import (
        chunk_array,
    )
    from pyspark_bigdata_sars_cov_2_analysis_spark.udf.udtfs import (
        register_udtfs,
    )

    register_udtfs(spark)
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "a b c d e"), (3, " "),
         (4, "x\ty")],
        "doc_id long, text string",
    )
    df.createOrReplaceTempView("chunk_twin_docs")
    native = {
        (r.doc_id, r.c.chunk_idx): r.c.chunk
        for r in df.select(
            "doc_id",
            F.explode(chunk_array(F.col("text"), 2, 2)).alias("c"),
        ).collect()
    }
    via_udtf = {
        (r.doc_id, r.chunk_idx): r.chunk
        for r in spark.sql(
            "SELECT d.doc_id, c.chunk_idx, c.chunk "
            "FROM chunk_twin_docs d, "
            "LATERAL chunk_text(d.text, 2, 2) c"
        ).collect()
    }
    assert native == via_udtf


def test_zorder_value_raises_not_asserts():
    """Review r14: bare asserts vanish under python -O, letting an
    oversized bits*n overflow the sign bit and silently corrupt the
    clustering — ValueError survives -O."""
    import pytest as _pytest

    from pyspark_bigdata_sars_cov_2_analysis_spark.operators.sorts import (
        zorder_value,
    )

    with _pytest.raises(ValueError, match="at least two"):
        zorder_value([F.col("a")], bits=8)
    with _pytest.raises(ValueError, match="> 63"):
        zorder_value([F.col("a"), F.col("b"), F.col("c"), F.col("d")], bits=16)


def test_packing_contract_guards(spark):
    """Review r15 packing guards: all-NULL ids refuse eagerly (min-based
    empty check used to return all rows with NULL offsets), NULL/negative
    token counts refuse row-locally (they silently shifted every later
    chunk's offsets), seq_len/n_chunks validate, and working-column
    clashes refuse via the shared helper."""
    import pytest as _pytest

    from pyspark_bigdata_sars_cov_2_analysis_spark.llmdata.packing import (
        global_token_offsets,
        pack_sequences,
    )

    all_null = spark.createDataFrame(
        [(None, 5), (None, 7)], "doc_id long, n_tokens long"
    )
    with _pytest.raises(ValueError, match="NULL for every row"):
        global_token_offsets(all_null, "doc_id", "n_tokens")

    # empty input still returns the offset column with no rows
    empty = all_null.where(F.lit(False))
    out = global_token_offsets(empty, "doc_id", "n_tokens")
    assert out.columns[-1] == "offset" and out.count() == 0

    bad_tok = spark.createDataFrame(
        [(1, 10), (2, -3), (3, 7)], "doc_id long, n_tokens long"
    )
    with _pytest.raises(Exception, match="non-negative"):
        global_token_offsets(bad_tok, "doc_id", "n_tokens").collect()
    null_tok = spark.createDataFrame(
        [(1, 10), (2, None), (3, 7)], "doc_id long, n_tokens long"
    )
    with _pytest.raises(Exception, match="non-negative"):
        global_token_offsets(null_tok, "doc_id", "n_tokens").collect()

    good = spark.createDataFrame(
        [(1, 10), (2, 3)], "doc_id long, n_tokens long"
    )
    with _pytest.raises(ValueError, match="seq_len"):
        pack_sequences(good, "doc_id", "n_tokens", seq_len=0)
    with _pytest.raises(ValueError, match="n_chunks"):
        global_token_offsets(good, "doc_id", "n_tokens", n_chunks=0)
    clash = good.withColumn("offset", F.lit(1))
    with _pytest.raises(ValueError, match="collide"):
        global_token_offsets(clash, "doc_id", "n_tokens")
    clash2 = good.withColumn("seq_id", F.lit(1))
    with _pytest.raises(ValueError, match="collide"):
        pack_sequences(clash2, "doc_id", "n_tokens", seq_len=8)


def test_packing_chunks_stay_balanced_under_skewed_ids(spark):
    """Review r15: the old (id - min)/width value-range chunking put ALL
    real rows in chunk 0 when one outlier id stretched the span
    (snowflake ids, timestamps) — the single-partition collapse the
    module exists to avoid. Quantile boundaries keep chunks balanced
    under any id distribution, and offsets stay identical to the naive
    window (associativity) regardless of chunking."""
    from pyspark.sql.window import Window

    from pyspark_bigdata_sars_cov_2_analysis_spark.llmdata.packing import (
        global_token_offsets,
    )

    rows = [(i, 3) for i in range(2000)] + [(10**12, 5)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    out = global_token_offsets(df, "doc_id", "n_tokens", n_chunks=8)
    # correctness: identical to the naive single-window prefix sum
    w = Window.orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    naive = df.select(
        "doc_id",
        (F.sum("n_tokens").over(w) - F.col("n_tokens"))
        .cast("bigint").alias("offset"),
    )
    assert sorted(map(tuple, out.select("doc_id", "offset").collect())) == \
        sorted(map(tuple, naive.collect()))
    # balance: rebuild the chunk assignment the operator derives and
    # assert the largest chunk holds nowhere near everything
    from pyspark_bigdata_sars_cov_2_analysis_spark.llmdata import packing as P

    qs = [i / 8 for i in range(1, 8)]
    bounds = sorted(set(
        df.agg(F.percentile_approx("doc_id", qs).alias("b")).collect()[0]["b"]
    ))
    sizes = (
        df.withColumn(
            "__c",
            F.size(F.filter(
                F.array(*[F.lit(b) for b in bounds]),
                lambda b: F.col("doc_id") >= b,
            )),
        )
        .groupBy("__c").count().collect()
    )
    biggest = max(r["count"] for r in sizes)
    assert len(sizes) >= 7 and biggest <= 2 * (2001 // 8), (
        f"chunking degenerated: {sorted((r['__c'], r['count']) for r in sizes)}"
    )


def test_hash_gate_null_key_contract(spark):
    """Review r15, pinned as DELIBERATE: a NULL sampling key yields a
    NULL gate which where() drops — in Spark and in every SQL oracle
    alike (three-valued logic), at ANY rate including 1.0. The
    column-shaped split instead routes NULL group keys to 'eval'
    (fail-safe: unknown grouping must never contaminate train)."""
    from pyspark_bigdata_sars_cov_2_analysis_spark.llmdata.sampling import (
        leakage_free_split,
        stratified_hash_sample,
        weighted_hash_sample,
    )

    df = spark.createDataFrame(
        [("a", "en", 1.0), (None, "en", 1.0), ("b", "en", 1.0)],
        "doc_id string, lang string, wt double",
    )
    kept = stratified_hash_sample(df, "doc_id", "lang", {"en": 1.0})
    assert sorted(r.doc_id for r in kept.collect()) == ["a", "b"]
    kept_w = weighted_hash_sample(df, "doc_id", F.col("wt"))
    assert sorted(r.doc_id for r in kept_w.collect()) == ["a", "b"]
    # and DuckDB agrees — the oracle twin of the same gate
    import duckdb

    con = duckdb.connect()
    n = con.sql(
        "SELECT COUNT(*) FROM (VALUES ('a'), (NULL), ('b')) t(k) "
        "WHERE substring(md5('sample' || k), 1, 4) < 'g'"
    ).fetchone()[0]
    assert n == 2
    split = leakage_free_split(
        df, "doc_id", F.col("doc_id"), train_rate=1.0
    )
    got = {r.doc_id: r.split for r in split.collect()}
    assert got[None] == "eval" and got["a"] == "train"
    # and the new split-column clash guard
    import pytest as _pytest

    with _pytest.raises(ValueError, match="collide"):
        leakage_free_split(
            df.withColumn("split", F.lit("x")), "doc_id", F.col("doc_id")
        )


def test_weighted_quantiles_review_r15_contracts(spark):
    """Review r15: (1) a group whose TOTAL weight is zero yields NULL
    quantiles instead of fabricating its min value (0 >= 0 degenerated
    the threshold test); (2) the generated __wq_k* join aliases are in
    the reserved-name guard; (3) the internal cache registers with a
    caller-supplied registrar so it has a release path."""
    import pytest as _pytest

    from pyspark_bigdata_sars_cov_2_analysis_spark.operators.aggregates import (
        weighted_quantiles,
    )

    df = spark.createDataFrame(
        [("a", 10, 1), ("a", 20, 3), ("z", 10, 0), ("z", 20, 0)],
        "k string, v long, w long",
    )
    out = {
        r.k: r.wp50
        for r in weighted_quantiles(
            df, ["k"], "v", "w", [(1, 2, "wp50")]
        ).collect()
    }
    assert out["a"] == 20  # cum 1/4 < 1/2 at v=10, reaches at v=20
    assert out["z"] is None  # zero-mass distribution has no median

    with _pytest.raises(ValueError, match="collide"):
        weighted_quantiles(
            df.withColumn("__wq_k0", F.lit(1)),
            ["k"], "v", "w", [(1, 2, "wp50")],
        )

    registered = []

    def registrar(frame):
        frame.cache()
        registered.append(frame)
        return frame

    weighted_quantiles(
        df, ["k"], "v", "w", [(1, 2, "wp50")], cache_registrar=registrar
    ).collect()
    assert len(registered) == 1
    # and the registered frame is the PROJECTED one — no unused width
    assert set(registered[0].columns) == {"k", "v", "w", "__pid"}
    registered[0].unpersist()


def test_countmin_bucket_null_item_matches_sql_concat(spark):
    """Review r15: concat_ws skipped a NULL item (bucketing it as
    md5(row) — mass the SQL oracle's NULL-propagating `||` never
    deposits). With concat, a NULL item forms an inert NULL bucket in
    both engines and estimates stay bit-identical."""
    import duckdb

    from pyspark_bigdata_sars_cov_2_analysis_spark.llmdata import sketches as SK

    counts = spark.createDataFrame(
        [("x", 5), (None, 7), ("y", 2)], "tok string, n long"
    )
    tbl = SK.countmin_table(counts, "tok", "n")
    rows = tbl.collect()
    # the NULL item's mass lands ONLY in NULL buckets, never in a real
    # cell where it would inflate a colliding item's estimate
    real = [r for r in rows if r["bucket"] is not None]
    con = duckdb.connect()
    for r in real:
        got = con.sql(
            f"SELECT substring(md5('{r['cms_row']}' || '|' || t.tok), 1, 2) "
            f"AS b, SUM(n) FROM (VALUES ('x', 5), ('y', 2)) t(tok, n) "
            f"WHERE substring(md5('{r['cms_row']}' || '|' || t.tok), 1, 2) "
            f"= '{r['bucket']}' GROUP BY 1"
        ).fetchall()
        assert got and int(got[0][1]) == r["cell"], (r, got)


def test_joins_windows_review_r15_guards(spark):
    """Review r15 join/window wave: parameter validation fails fast
    where non-ANSI NULL arithmetic used to return silently-empty joins,
    generated output names are guarded, map-typed columns don't brick
    the salt hash, and running_agg's frame matches the SQL default
    (RANGE: peers share the running value on ties)."""
    import pytest as _pytest

    from pyspark_bigdata_sars_cov_2_analysis_spark.operators import joins as J
    from pyspark_bigdata_sars_cov_2_analysis_spark.operators import windows as W

    li = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "c")], "k long, lv string"
    )
    ri = spark.createDataFrame([(1, "x"), (2, "y")], "k long, rv string")

    with _pytest.raises(ValueError, match="n_salts"):
        J.salted_join(li, ri, "k", "k", n_salts=0)

    # a map-typed left column no longer bricks the salt hash
    lm = li.withColumn("props", F.create_map(F.lit("a"), F.lit(1)))
    got = J.salted_join(lm, ri, "k", "k", n_salts=4).drop("props")
    assert got.count() == 3

    ts = spark.createDataFrame(
        [(1, 100), (1, 200)], "k long, t long"
    ).select("k", F.timestamp_micros(F.col("t")).alias("t"))
    with _pytest.raises(ValueError, match="bin_width_us"):
        J.binned_range_join(
            ts.select("k", F.col("t").alias("lo"), F.col("t").alias("hi")),
            ts.select("k", F.col("t").alias("pt")),
            F.col("lo"), F.col("hi"), F.col("pt"), bin_width_us=0,
        )

    # generated *_asof output names refuse a colliding left column — in
    # the native twin AND the cogroup twin (which died with a KeyError
    # in the executor) AND the nearest variant
    lts = spark.createDataFrame(
        [(1, 100, "clash")], "k long, t long, rv_asof string"
    ).select("k", F.timestamp_micros("t").alias("t"), "rv_asof")
    rts = spark.createDataFrame(
        [(1, 50, "r")], "k long, t long, rv string"
    ).select("k", F.timestamp_micros("t").alias("rt"), "rv")
    for fn in (J.asof_join, J.asof_join_nearest, J.asof_join_cogroup):
        with _pytest.raises(ValueError, match="collide"):
            fn(lts, rts, "k", "t", "rt")

    # window alias guards
    df = spark.createDataFrame([(1, 2, 3)], "k long, o long, rn long")
    with _pytest.raises(ValueError, match="collide"):
        W.top_n_per_group(df, ["k"], [F.col("o")], rank_alias="rn")
    with _pytest.raises(ValueError, match="collide"):
        W.running_agg(df, ["k"], [F.col("o")], F.sum("o"), "rn")

    # RANGE frame: tied order keys are peers and share the running value
    tied = spark.createDataFrame(
        [(1, 10, 100), (1, 10, 200), (1, 20, 50)], "k long, o long, v long"
    )
    out = {
        (r.k, r.o, r.v): r.run
        for r in W.running_agg(
            tied, ["k"], [F.col("o")], F.sum("v"), "run"
        ).collect()
    }
    assert out[(1, 10, 100)] == 300 and out[(1, 10, 200)] == 300
    assert out[(1, 20, 50)] == 350


def test_asof_shim_casts_survive_exotic_types(spark):
    """Review r15: the tagged-union shim cast through dtypes
    simpleString, which does not round-trip the DDL parser for every
    type — a nested field name with a space broke every asof call on
    such a frame. Casting to the DataType object has no parser."""
    from pyspark_bigdata_sars_cov_2_analysis_spark.operators import joins as J

    left = (
        spark.createDataFrame([(1, 100, 7)], "k long, t long, x long")
        .select(
            "k",
            F.timestamp_micros("t").alias("t"),
            F.struct(F.col("x").alias("my field")).alias("s"),
        )
    )
    right = spark.createDataFrame(
        [(1, 50, "r")], "k long, t long, rv string"
    ).select("k", F.timestamp_micros("t").alias("rt"), "rv")
    got = J.asof_join(left, right, "k", "t", "rt").collect()
    assert len(got) == 1 and got[0]["rv_asof"] == "r"


def test_similarity_ansi_degenerate_inputs(spark):
    """Review r15 (empirically reproduced under Spark 4's default
    ANSI mode): a zero-norm vector made every cosine path raise
    DIVIDE_BY_ZERO, and a vector shorter than m made sign_bucket raise
    INVALID_ARRAY_INDEX. try_divide / try_element_at give the exact
    DuckDB twin semantics (x/0.0 -> NULL, out-of-range list access ->
    NULL -> zero bit), verified here cross-engine."""
    import duckdb

    from pyspark_bigdata_sars_cov_2_analysis_spark.llmdata import similarity as S

    df = spark.createDataFrame(
        [(1, [1.0, 2.0, 2.0]), (2, [0.0, 0.0, 0.0]), (3, [2.0, 4.0, 4.0])],
        "vec_id long, embedding array<double>",
    )
    # zero-norm neighbor scores NULL -> ranked NULLS-LAST, never top
    top = S.brute_force_topk(df, "vec_id", "embedding", [1], k=2).collect()
    ranked = {r.rank: (r.neighbor_id, r.cos_sim) for r in top}
    assert ranked[1] == (3, 1.0)
    assert ranked[2][0] == 2 and ranked[2][1] is None
    # zero-norm pair fails the near-dup threshold instead of crashing
    pairs = S.embedding_neardup_pairs(
        df, "vec_id", "embedding", threshold=0.5, m=2
    ).collect()
    assert {(p.id_a, p.id_b) for p in pairs} == {(1, 3)}
    # IVF assignment survives a zero-norm member
    assert S.ivf_topk(df, "vec_id", "embedding", [1], k=1,
                      n_centroids=2).count() >= 1
    # short vector: missing dims hash as zero bits — matching DuckDB
    short = spark.createDataFrame(
        [(1, [5.0, -1.0])], "vec_id long, v array<double>"
    )
    got = short.select(S.sign_bucket(F.col("v"), 8).alias("b")).collect()
    con = duckdb.connect()
    want = con.sql(
        "SELECT "
        + " + ".join(
            f"CASE WHEN ([5.0, -1.0][{i + 1}]) > 0 THEN {2**i} ELSE 0 END"
            for i in range(8)
        )
    ).fetchone()[0]
    assert got[0]["b"] == want == 1


def test_resize_nn_tolerates_undecodable_payloads(spark):
    """Review r15: an empty or non-BMP payload killed the whole resize
    stage; it now gets no thumbnail, the NULL-payload rule."""
    from pyspark_bigdata_sars_cov_2_analysis_spark.llmdata import multimodal as M
    from pyspark_bigdata_sars_cov_2_analysis_spark.llmdata.imaging import (
        encode_bmp,
    )
    import numpy as np

    ok = encode_bmp(np.zeros((4, 4, 3), dtype=np.uint8))
    df = spark.createDataFrame(
        [(1, bytearray(ok)), (2, bytearray(b"")), (3, None),
         (4, bytearray(b"not a bmp"))],
        "doc_id long, payload binary",
    )
    got = M.resize_image_nn(df, out_h=2, out_w=2).collect()
    assert [r.doc_id for r in got] == [1]


def test_chunkers_emit_nothing_for_whitespace_only_docs(spark):
    """Review r15: a tab/newline-only doc normalizes to a single ' '
    (SQL trim strips only ASCII spaces), which slipped the old
    length>0 guard and emitted one bogus (0, ' ') chunk from all THREE
    twins. The trimmed guard closes it in chunk_array, the ChunkText
    UDTF, and the t11 oracle alike."""
    import duckdb

    from pyspark_bigdata_sars_cov_2_analysis_spark.functions.text import (
        chunk_array,
    )
    from pyspark_bigdata_sars_cov_2_analysis_spark.udf.udtfs import ChunkText

    df = spark.createDataFrame(
        [(1, "\t"), (2, "\n \n"), (3, ""), (4, None), (5, "real words here")],
        "doc_id long, text string",
    )
    out = df.select(
        "doc_id", F.size(chunk_array(F.col("text"), 4, 3)).alias("n")
    ).collect()
    assert {r.doc_id: r.n for r in out} == {1: 0, 2: 0, 3: 0, 4: 0, 5: 1}
    # UDTF twin (the @udtf wrapper keeps the raw handler at .func)
    handler = ChunkText.func()
    assert list(handler.eval("\t", 4, 3)) == []
    assert list(handler.eval("\n \n", 4, 3)) == []
    assert len(list(handler.eval("real words here", 4, 3))) == 1
    # oracle guard twin (the t11 WHERE clause shape)
    con = duckdb.connect()
    n = con.sql(
        "SELECT COUNT(*) FROM (VALUES (CHR(9)), ('x')) t(text) "
        "WHERE length(trim(regexp_replace(trim(lower(text)), "
        "'\\s+', ' ', 'g'))) > 0"
    ).fetchone()[0]
    assert n == 1


def test_repetition_agg_null_and_duplicate_ids(spark):
    """Review r15: the agg scorer's null-UNSAFE join scored every
    NULL-id doc 0.0 (its pooled stats row never matched), and its
    one-row-per-input-row output made the gate's null-safe join emit
    N^2 rows for N NULL-id (or duplicate-id) docs. The scorer now
    emits one row per DISTINCT id with null-safe stats attach."""
    from pyspark_bigdata_sars_cov_2_analysis_spark.functions.text import (
        quality_gate_frame,
        repetition_ratio_agg,
    )

    rep_text = "spam spam spam spam spam spam spam spam spam spam"
    df = spark.createDataFrame(
        [(None, rep_text), (None, rep_text), (7, rep_text), (7, rep_text)],
        "doc_id long, text string",
    )
    rep = repetition_ratio_agg(df, "doc_id", "text", 3).collect()
    # one row per DISTINCT id, both highly repetitious (pooled stats)
    got = {r.doc_id: r.rep_ratio for r in rep}
    assert set(got) == {None, 7} and len(rep) == 2
    assert got[None] > 0.5 and got[7] > 0.5
    # the gate emits one row per INPUT row — no N^2 multiplication —
    # and drops the repetitious docs
    gate = quality_gate_frame(df, "doc_id", "text", min_tokens=1).collect()
    assert len(gate) == 4
    assert all(not r.keep and "repetitious" in r.reasons for r in gate)


def test_relational_setops_review_r15_guards(spark):
    """Review r15: fail-fast parameter/input guards across the
    relational/setops/sorts surface, plus the shared when-chain."""
    import pytest as _pytest

    from pyspark_bigdata_sars_cov_2_analysis_spark.functions.recode import (
        label_from_code,
        when_chain,
    )
    from pyspark_bigdata_sars_cov_2_analysis_spark.operators.relational import (
        null_profile,
        recode_values,
    )
    from pyspark_bigdata_sars_cov_2_analysis_spark.operators.setops import (
        union_all,
    )
    from pyspark_bigdata_sars_cov_2_analysis_spark.operators.sorts import (
        zorder_value,
    )

    df = spark.createDataFrame([("a", 1.0), ("b", None)], "c string, v double")

    # empty recode mapping: loud ValueError that survives python -O
    with _pytest.raises(ValueError, match="empty recode mapping"):
        recode_values(df, "c", {})
    with _pytest.raises(ValueError, match="empty recode mapping"):
        when_chain(F.col("c"), {}, F.lit("x"))
    # the shared chain keeps label_from_code's semantics
    got = df.select(
        label_from_code(F.col("c"), {"a": "alpha"}).alias("l")
    ).collect()
    assert {r.l for r in got} == {"alpha", "unknown"}
    # recode default=None passes the original through
    got = recode_values(df, "c", {"a": "A"}).collect()
    assert {r.c for r in got} == {"A", "b"}

    # union_all: empty list refuses; schema-evolution form null-pads
    with _pytest.raises(ValueError, match="at least one frame"):
        union_all([])
    with _pytest.raises(ValueError, match="by_name"):
        union_all([df, df], by_name=False, allow_missing_columns=True)
    a = spark.createDataFrame([(1, "x")], "id long, only_a string")
    b = spark.createDataFrame([(2, 9.5)], "id long, only_b double")
    u = union_all([a, b], allow_missing_columns=True)
    assert sorted(u.columns) == ["id", "only_a", "only_b"]
    assert u.count() == 2

    # zorder bits validation: bits<=0 used to yield a CONSTANT z-value
    with _pytest.raises(ValueError, match="bits must be >= 1"):
        zorder_value([F.col("v"), F.col("v")], bits=0)

    # null_profile: explicit [] is refused loudly, not silently
    # widened to every column
    with _pytest.raises(ValueError, match="empty columns"):
        null_profile(df, [])
    assert null_profile(df).collect()[0]["v"] == 1


def test_prophet_fitter_degenerate_guard_shape():
    """Review r15: prophet_fitter must honor the Fitter seam's
    degenerate contract (drop NULL pairs, <2 points -> all-NULL
    forecast) BEFORE touching Prophet — testable without the library
    because the guard returns before the gated import's symbols are
    used... the import itself is module-level inside fit(), so assert
    the all-NULL path when prophet is absent by feeding a degenerate
    group (which must not import-crash differently than ols)."""
    import pandas as pd
    import pytest as _pytest

    from pyspark_bigdata_sars_cov_2_analysis_spark.timeseries.forecast import (
        prophet_fitter,
    )

    fit = prophet_fitter()
    x = pd.Series([1.0, float("nan")])
    y = pd.Series([float("nan"), 2.0])
    try:
        import prophet  # noqa: F401
        has_prophet = True
    except ImportError:
        has_prophet = False
    if has_prophet:
        predict = fit(x, y)
        out = predict(pd.Series([3.0, 4.0]))
        assert list(out) == [None, None]
    else:
        # the gated import runs before the guard can't be avoided
        # without reordering; assert the CURRENT contract: import
        # error names prophet, not a ValueError from int(nan)
        with _pytest.raises(ImportError):
            fit(x, y)
