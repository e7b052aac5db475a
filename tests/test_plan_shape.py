"""Physical-plan shape assertions — the 100 TB design contract.

Correctness tests prove the small-SF answers; these prove the PLAN is the
one that survives a 1000-executor scale-up: filters reach the parquet scan,
dimensions broadcast, top-k never global-sorts, signature pipelines don't
multiply shuffles. A regression here is a performance bug even while every
value stays right.
"""

from __future__ import annotations

import re

from pyspark_bigdata_sars_cov_2_analysis_spark.plans import QUERIES
from tests.conftest import SF_TEST


def _plan(df, mode: str = "formatted") -> str:
    jvm = df.sparkSession._jvm
    mode_obj = jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    return df._jdf.queryExecution().explainString(mode_obj)


def test_q6_filters_push_to_scan(spark):
    plan = _plan(QUERIES["q6_forecast_revenue"](spark, SF_TEST))
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert pushed, plan
    line = pushed[0]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in line, f"{col} not pushed: {line}"
    # column pruning: the scan must not read the full 11-column lineitem
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_returnflag" not in read and "l_tax" not in read, read


def test_q3_dimension_broadcast(spark):
    plan = _plan(QUERIES["q3_shipping_priority"](spark, SF_TEST))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan


def test_q3_topk_is_take_ordered(spark):
    plan = _plan(QUERIES["q3_shipping_priority"](spark, SF_TEST))
    assert "TakeOrderedAndProject" in plan, plan


def test_q5_only_fact_join_shuffles(spark):
    """Q5 joins six tables; every dimension must broadcast — the only
    Exchanges allowed are the orders⋈lineitem shuffle + final agg."""
    plan = _plan(QUERIES["q5_local_supplier_volume"](spark, SF_TEST), mode="simple")
    n_broadcast = plan.count("BroadcastExchange")
    assert n_broadcast >= 4, f"expected >=4 broadcast dims, got {n_broadcast}\n{plan}"
    n_shuffle = plan.count("Exchange hashpartitioning") + plan.count(
        "Exchange rangepartitioning"
    )
    assert n_shuffle <= 3, f"too many shuffles ({n_shuffle})\n{plan}"


def test_q9_bounded_shuffles(spark):
    """Q9 (5-table profit rollup) — the most join-heavy headline query:
    dimensions must broadcast; the only hash exchanges allowed are the
    fact-side join/agg shuffles."""
    plan = _plan(QUERIES["q9_product_profit"](spark, SF_TEST), mode="simple")
    assert plan.count("BroadcastExchange") >= 3, plan
    n_shuffle = plan.count("Exchange hashpartitioning") + plan.count(
        "Exchange rangepartitioning"
    )
    assert n_shuffle <= 3, f"too many shuffles ({n_shuffle})\n{plan}"


def test_q18_single_lineitem_scan_and_topk(spark):
    """Q18 (r15 single-scan shape) — the HAVING aggregate's per-order
    quantity sum IS the output sum_qty, so lineitem is scanned exactly
    ONCE (no probe-side re-scan, no orders⋈lineitem fact join); the
    surviving-order set broadcasts onto orders, customer broadcasts,
    and top-100 never global-sorts."""
    plan = _plan(QUERIES["q18_large_volume"](spark, SF_TEST))
    assert "TakeOrderedAndProject" in plan, plan
    assert plan.count("Location: InMemoryFileIndex") >= 1, plan
    import re as _re

    li_scans = len(
        _re.findall(r"InMemoryFileIndex \[[^\]]*lineitem", plan)
    )
    assert li_scans == 1, f"lineitem scanned {li_scans}x\n{plan}"
    simple = _plan(QUERIES["q18_large_volume"](spark, SF_TEST), mode="simple")
    assert simple.count("BroadcastHashJoin") == 2, simple
    assert "SortMergeJoin" not in simple, simple
    n_shuffle = simple.count("Exchange hashpartitioning") + simple.count(
        "Exchange rangepartitioning"
    )
    assert n_shuffle <= 1, f"too many shuffles ({n_shuffle})\n{simple}"


def test_q18_no_expand_plain_aggregate(spark):
    """Q18's quantity-sum HAVING must stay a single plain aggregate with
    a map-side partial (no Expand — a count_distinct formulation would
    double pre-shuffle rows)."""
    plan = _plan(QUERIES["q18_large_volume"](spark, SF_TEST), mode="simple")
    assert "Expand" not in plan, plan
    assert "partial_sum" in plan, plan


def test_q20_semi_keyset_aggregated_before_join(spark):
    """Q20's nested-IN chain: the part filter must broadcast INTO the
    lineitem scan side (never shuffle the fact on partkey), the shipped-
    quantity keyset must aggregate with a map-side partial, and the
    supplier semi join adds at most one more exchange — no Expand, no
    re-scan explosion."""
    plan = _plan(QUERIES["q20_potential_promotion"](spark, SF_TEST), mode="simple")
    assert "LeftSemi" in plan, plan
    assert "BroadcastHashJoin" in plan, plan  # part dim into lineitem
    assert "partial_sum" in plan, plan
    assert "Expand" not in plan, plan
    n_shuffle = plan.count("Exchange hashpartitioning")
    assert n_shuffle <= 3, f"too many shuffles ({n_shuffle})\n{plan}"
    # the date filter must reach the lineitem scan
    assert "GreaterThanOrEqual(l_shipdate" in plan, plan


def test_q2_min_join_shape(spark):
    """Q2's per-part minimum: every dimension (supplier/nation/region/
    part) broadcasts on BOTH derived branches, the min computes as an
    aggregate with map-side partial_min (NOT a global window), and the
    min-price back-join plus final top-100 stay within four exchanges
    with TakeOrderedAndProject (never a global sort)."""
    plan = _plan(QUERIES["q2_min_cost_supplier"](spark, SF_TEST), mode="simple")
    assert plan.count("BroadcastExchange") >= 5, plan
    assert "partial_min" in plan, plan
    assert "Window" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    n_shuffle = plan.count("Exchange hashpartitioning")
    assert n_shuffle <= 4, f"too many shuffles ({n_shuffle})\n{plan}"


def test_q21_bounded_shuffles(spark):
    """Q21 (multi-condition existence chain) — the two correlated
    subqueries fold into ONE per-order aggregate frame, so the plan stays
    at a handful of exchanges, not one per subquery."""
    plan = _plan(QUERIES["q21_waiting_supplier"](spark, SF_TEST), mode="simple")
    assert plan.count("BroadcastExchange") >= 2, plan
    n_shuffle = plan.count("Exchange hashpartitioning") + plan.count(
        "Exchange rangepartitioning"
    )
    assert n_shuffle <= 5, f"too many shuffles ({n_shuffle})\n{plan}"
    # the two-level distinct rewrite must keep Expand out of the plan
    # (multi-count_distinct would double every pre-shuffle row)
    assert "Expand" not in plan, plan


def test_minhash_single_aggregate_shuffle(spark):
    """The signature stage must be ONE groupBy with map-side partials —
    not a per-seed row multiplication before the shuffle."""
    from pyspark_bigdata_sars_cov_2_analysis_spark.llmdata import dedup
    from pyspark_bigdata_sars_cov_2_analysis_spark.plans.registry import table

    # d24 caches a signature frame over this exact subtree; once the
    # parity suite materializes it, the plan printer substitutes an
    # InMemoryTableScan whose re-printed defining subtree doubles the
    # exchange count (the t09/a22 print rule) — normalize first
    spark.catalog.clearCache()
    sig = dedup.minhash_signatures(
        table(spark, SF_TEST, "documents"), "doc_id", "text"
    )
    plan = _plan(sig, mode="simple")
    n_shuffle = plan.count("Exchange hashpartitioning")
    assert n_shuffle == 1, f"signature stage should shuffle once\n{plan}"
    assert "partial_min" in plan, plan


def test_simhash_single_aggregate_shuffle(spark):
    """The SimHash signature stage must be ONE groupBy(id) carrying the 32
    per-bit ±1 votes as map-side partial sums — no broadcast bit-index
    crossJoin fanning every token row out 32× and no second fold-up
    aggregate (the round-1 shape)."""
    from pyspark_bigdata_sars_cov_2_analysis_spark.llmdata import dedup
    from pyspark_bigdata_sars_cov_2_analysis_spark.plans.registry import table

    sig = dedup.simhash_signatures(
        table(spark, SF_TEST, "documents"), "doc_id", "text"
    )
    plan = _plan(sig, mode="simple")
    n_shuffle = plan.count("Exchange hashpartitioning")
    assert n_shuffle == 1, f"signature stage should shuffle once\n{plan}"
    assert "partial_sum" in plan, plan
    assert "Join" not in plan, f"no joins in the signature stage\n{plan}"


def test_simhash_pairs_join_form_no_distinct_exchange(spark):
    """The r9 pair expansion: a banded self-EQUI-join (never a nested
    loop / cartesian product) whose canonical first-matching-band filter
    makes every pair unique at EMISSION — so the plan must carry no
    deduplicating exchange keyed on the output pair (the old global
    distinct's hashpartitioning(id_a, id_b...) shuffle)."""
    from pyspark_bigdata_sars_cov_2_analysis_spark.llmdata import dedup
    from pyspark_bigdata_sars_cov_2_analysis_spark.plans.registry import table

    out = dedup.simhash_neardup_pairs(
        table(spark, SF_TEST, "documents"), "doc_id", "text",
        max_hamming=6, band_bits=4,
    )
    plan = _plan(out, mode="simple")
    assert "Join" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "hashpartitioning(id_a" not in plan, (
        f"the canonical-band emission should need no pair-dedup "
        f"exchange\n{plan}"
    )


def test_simhash_pairs_unique_on_identical_docs(spark):
    """Worst-case duplicate factor for the canonical-band rule: IDENTICAL
    documents match on every band (xor mask 0), so the old
    emit-per-band form produced n_bands copies per pair pre-distinct.
    The operator must emit each pair exactly once — and at Hamming 0
    the pair count for m identical docs is exactly m·(m−1)/2."""
    from pyspark_bigdata_sars_cov_2_analysis_spark.llmdata import dedup

    text = ("the same document repeated verbatim so every simhash band "
            "slice agrees across all copies of it")
    df = spark.createDataFrame(
        [(i, text) for i in range(5)] + [(99, "a wholly different text "
                                              "about something unrelated")],
        "doc_id long, text string",
    )
    rows = dedup.simhash_neardup_pairs(
        df, "doc_id", "text", max_hamming=6, band_bits=4
    ).collect()
    pairs = [(r.id_a, r.id_b) for r in rows]
    assert len(pairs) == len(set(pairs)), "duplicate pair emitted"
    ident = [p for p in pairs if p[0] < 90 and p[1] < 90]
    assert sorted(ident) == [
        (a, b) for a in range(5) for b in range(5) if a < b
    ]
    assert all(r.hamming == 0 for r in rows if (r.id_a, r.id_b) in ident)


def test_w01_single_window_shuffle(spark):
    plan = _plan(QUERIES["w01_latest_per_group"](spark, SF_TEST), mode="simple")
    n_shuffle = plan.count("Exchange hashpartitioning")
    assert n_shuffle <= 1, f"latest-per-group must shuffle at most once\n{plan}"


def test_q1_partial_aggregation(spark):
    """Map-side combine: the agg must plan as partial + final HashAggregate
    pairs, not a raw shuffle of every row."""
    plan = _plan(QUERIES["q1_pricing_summary"](spark, SF_TEST), mode="simple")
    assert plan.count("HashAggregate") >= 2, plan


def test_brute_force_topk_broadcasts_probes(spark):
    plan = _plan(QUERIES["s01_cosine_topk"](spark, SF_TEST))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan


def test_range_join_is_equi_not_nested_loop(spark):
    """binned_range_join exists to turn a pure theta range join into a
    bin-keyed equi join — the plan must contain a real equi join (sort-
    merge or shuffled hash) and NO BroadcastNestedLoopJoin/Cartesian."""
    plan = _plan(QUERIES["j07_range_join_binned"](spark, SF_TEST))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan  # AQE may broadcast the small side
    ), plan


def test_asof_join_single_window_shuffle(spark):
    """asof_join's whole point is ONE key-shuffle (union + window) instead
    of an interval join's pair explosion — the plan must have no join node
    at all and exactly one Exchange hashpartitioning on the key."""
    plan = _plan(QUERIES["j06_asof_join"](spark, SF_TEST))
    for node in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
                 "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert node not in plan, plan
    exchanges = [
        ln for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln
    ]
    assert len(exchanges) <= 2, plan  # key window + pre-agg of the view side


def test_packing_avoids_global_window(spark):
    """t10's two-level prefix sum exists to dodge the single-partition
    global window: the plan may contain at most ONE SinglePartition
    exchange (the per-chunk totals — n_chunks rows), and the heavy local
    cumsum must run under a hash-partitioned window."""
    plan = _plan(QUERIES["t10_sequence_packing"](spark, SF_TEST))
    assert plan.count("Exchange SinglePartition") <= 1, plan
    assert "hashpartitioning(__chunk" in plan, plan


def test_tfidf_df_is_aggregate_not_window(spark):
    """t09's document frequency must come from a hash aggregate (map-side
    partials compress hot tokens to one row per map partition), never a
    window partitioned by tok — a stopword's window partition holds one
    row per document containing it and AQE cannot split window
    partitions. The only window allowed is the bounded per-doc top-3.
    The tokenize subtree must also plan exactly once (cached)."""
    df = QUERIES["t09_tfidf_top_terms"](spark, SF_TEST)
    plan = _plan(df)
    low = plan.lower()
    assert "windowspecdefinition(tok" not in low, plan
    assert "windowspecdefinition(doc_id" in low, plan
    # both tf consumers (the scored probe side and the dfreq build side)
    # must read the cached relation — tokenize then lives ONLY inside the
    # single cached subtree. Don't count raw "Scan parquet" occurrences:
    # once the cache is materialized (any prior run in the session), the
    # explain output embeds the cached plan's Initial+Final AQE sections
    # and the text count inflates with no change in the physical plan.
    tree = plan.split("\n\n")[0]
    assert tree.count("InMemoryTableScan") >= 2, plan


def test_d13_fuzzy_resolve_argmax_no_window(spark):
    """d13's keep-best tail must stay the d10 aggregate shape: the
    cluster-frame join back to the quality projection feeds ONE
    max(struct) aggregate with a map-side partial — no window, no
    per-cluster sort (the component stage's internals are covered by
    d07's own storage/convergence tests)."""
    plan = _plan(QUERIES["d13_fuzzy_dedup_resolve"](spark, SF_TEST))
    assert "windowspecdefinition" not in plan.lower(), plan
    assert "partial_max" in plan, plan


def test_t13_surprisal_no_window_cached_tf(spark):
    """t13 (token surprisal) inherits t09's de-skewed skeleton: the
    corpus unigram table is a hash aggregate over the cached tf frame —
    no window ANYWHERE (unlike t09 it has no top-k, so the plan must be
    entirely window-free) and both tf consumers read the cached
    relation."""
    df = QUERIES["t13_token_surprisal"](spark, SF_TEST)
    plan = _plan(df)
    assert "windowspecdefinition" not in plan.lower(), plan
    tree = plan.split("\n\n")[0]
    assert tree.count("InMemoryTableScan") >= 2, plan
    assert "partial_sum" in plan, plan


def test_decontaminate_joins_broadcast_no_fanout(spark):
    """d09's train⋈eval shingle join must resolve the (small, distinct)
    eval shingle set as the BUILD side of a broadcast hash join — the
    train side is never shuffled — and the aggregate above it must have a
    partial (map-side) phase so hot shingles compress before any
    exchange."""
    plan = _plan(QUERIES["d09_decontaminate"](spark, SF_TEST))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan
    assert "partial_count" in plan, plan


def test_incremental_dedup_no_join_bounded_shuffles(spark):
    """d11's candidate stage must be the bucket-AGGREGATE shape, not a
    bands self-join (which would run the signature pipeline twice per
    side): no join operator anywhere, and at most three PHYSICAL hash
    exchanges — ONE shared signature aggregate (r15: the corpus is
    banded once into a registry-tracked cache both sides filter, so the
    per-side signature shuffle pair collapsed to one), the union's
    bucket groupBy, and the output distinct. Exchanges are counted by
    unique plan_id: the cached subplan's text is displayed once per
    consumer branch (and twice more — initial+final — after the cache
    materializes), so a raw substring count would depend on whether an
    earlier test already ran d11 in this session."""
    import re

    from pyspark_bigdata_sars_cov_2_analysis_spark.plans.registry import (
        release_plan_caches,
    )

    release_plan_caches()
    spark.catalog.clearCache()
    plan = _plan(QUERIES["d11_incremental_dedup"](spark, SF_TEST), mode="simple")
    assert "Join" not in plan, plan
    assert "InMemoryRelation" in plan, plan  # the shared banded pass
    ids = set(
        re.findall(r"Exchange hashpartitioning.*?\[plan_id=(\d+)\]", plan)
    )
    assert len(ids) <= 3, f"too many shuffles ({sorted(ids)})\n{plan}"
    release_plan_caches()


def test_o06_mixture_rates_broadcast_no_bigside_shuffle(spark):
    """o06's per-source rates must come from a tiny aggregate broadcast
    back onto the corpus — the corpus side is filtered in place with NO
    exchange of its own (the only hash exchanges are the two small
    aggregates), and the rate arithmetic lives in the plan, never in a
    driver collect."""
    plan = _plan(QUERIES["o06_temperature_mixture"](spark, SF_TEST), mode="simple")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    n_shuffle = plan.count("Exchange hashpartitioning")
    assert n_shuffle <= 2, f"too many shuffles ({n_shuffle})\n{plan}"


def test_d12_composed_pipeline_single_bigside_shuffle(spark):
    """d09∘d10∘d08 composed (d12): the three stages must fuse without
    inter-stage shuffles on the train side — the contamination id-frame
    and the eval shingle set broadcast, the ONLY exchanges are the two
    small-side distincts plus the single fp aggregate (with a map-side
    partial), and the d08 gate is a projection on the aggregate output
    (no window, no extra pass)."""
    plan = _plan(QUERIES["d12_decontaminated_split"](spark, SF_TEST), mode="simple")
    assert plan.count("BroadcastHashJoin") == 2, plan
    assert "LeftAnti" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "Window" not in plan, plan
    # count only planner-DERIVED shuffles (ENSURE_REQUIREMENTS): the
    # deliberate spread_compute repartitions are REPARTITION_BY_NUM and
    # since the r15 keyed-spread change print as hashpartitioning too
    # (previously roundrobin, which this count never saw) — same
    # exchange count, different flavor, minus the round-robin
    # determinism sort
    n_shuffle = len(
        re.findall(
            r"Exchange hashpartitioning.*ENSURE_REQUIREMENTS", plan
        )
    )
    assert n_shuffle <= 3, f"too many derived shuffles ({n_shuffle})\n{plan}"
    assert "partial_max" in plan, plan


def test_incremental_dedup_persisted_bands_never_scans_corpus_text(
    spark, tmp_path
):
    """The persisted-bands ingest path (batch N+1): the ONLY scan that
    reads a ``text`` column is the incoming batch's — the corpus side
    reads the tiny (id, band, band_sig) checkpoint, never the corpus
    parquet. At 100 TB this is the difference between re-hashing the
    whole corpus per crawl slice and reading a per-doc-constant sliver."""
    from pyspark_bigdata_sars_cov_2_analysis_spark.llmdata import dedup
    from pyspark_bigdata_sars_cov_2_analysis_spark.plans.registry import table

    d = table(spark, SF_TEST, "documents")
    path = str(tmp_path / "bands")
    dedup.write_band_checkpoint(
        d.where("doc_id % 5 != 0"), path, "doc_id", "text"
    )
    bands = dedup.read_band_checkpoint(spark, path, "doc_id")
    out = dedup.incremental_neardup_pairs(
        d.where("doc_id % 5 = 0"), None, "doc_id", "text", corpus_bands=bands
    )
    plan = _plan(out)
    reads = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    text_reads = [ln for ln in reads if "text" in ln]
    assert len(text_reads) == 1, plan  # the new batch only
    assert any("band_sig" in ln for ln in reads), plan
    # still the join-free bucket-aggregate shape
    simple = _plan(out, mode="simple")
    assert "Join" not in simple, simple


def test_d14_chunk_dedup_no_window_over_chunks(spark):
    """d14's first-occurrence selection must be the min(struct) AGGREGATE
    shape with a map-side partial — never a window partitioned by the
    chunk hash, whose hottest keys (the boilerplate being removed) would
    serialize into single window partitions. Since r15 the survivor TEXT
    rides inside the min struct, so there is NO semi-join back onto a
    re-chunked corpus at all, and per-doc totals are the row-local
    ceil(n_tokens/k) — the corpus is chunk-exploded exactly once (one
    Generate), scanned at most twice (explode + the narrow totals
    projection)."""
    plan = _plan(QUERIES["d14_chunk_dedup_keep_first"](spark, SF_TEST))
    assert "windowspecdefinition" not in plan.lower(), plan
    assert "partial_min" in plan, plan
    assert "LeftSemi" not in plan, plan  # survivor text rides the agg
    import re as _re

    n_generate = len(_re.findall(r"\(\d+\) Generate", plan))
    assert n_generate == 1, f"corpus chunk-exploded {n_generate}x\n{plan}"
    n_scans = len(_re.findall(r"\(\d+\) Scan parquet", plan))
    assert n_scans <= 2, f"{n_scans} scans\n{plan}"


def test_a21_unpivot_is_expand_no_shuffle(spark):
    """a21's melt must plan as the row-local Expand node directly over
    the scan — no Exchange anywhere (wide→long is a projection family,
    not a shuffle)."""
    plan = _plan(QUERIES["a21_unpivot_melt"](spark, SF_TEST))
    assert "Expand" in plan, plan
    assert "Exchange" not in plan, plan


def test_ml03_single_aggregate_pass(spark):
    """ml03's five sums + count must fold into ONE grouped aggregate with
    a map-side partial over a single scan — the point of the one-pass
    Σ(y−ȳ)² identity is that R² costs no second scan and no window."""
    plan = _plan(QUERIES["ml03_regression_metrics"](spark, SF_TEST))
    assert "windowspecdefinition" not in plan.lower(), plan
    assert "partial_sum" in plan, plan
    tree = plan.split("\n\n")[0]
    assert tree.count("Scan parquet") == 1, plan


def test_w07_window_sees_aggregated_rows_only(spark):
    """w07's RANGE frame must run over the DAILY aggregate (one row per
    (type, day)), never over raw events: the plan needs exactly one
    grouped aggregate below the single Window node, with a map-side
    partial so the per-day reduction happens before the shuffle."""
    plan = _plan(QUERIES["w07_time_range_frame"](spark, SF_TEST))
    assert plan.lower().count("windowspecdefinition") >= 1, plan
    assert "partial_count" in plan, plan
    tree = plan.split("\n\n")[0]
    win_line = next(
        i for i, ln in enumerate(tree.splitlines()) if "Window" in ln
    )
    below = "\n".join(tree.splitlines()[win_line:])
    assert "HashAggregate" in below, plan


def test_f16_array_lambdas_no_explode_no_shuffle(spark):
    """f16's whole point: per-row vector features WITHOUT exploding the
    array — the plan must be a pure projection over the scan (no
    Generate/Explode node, no Exchange)."""
    plan = _plan(QUERIES["f16_array_lambda"](spark, SF_TEST))
    tree = plan.split("\n\n")[0]
    assert "Generate" not in tree, plan
    assert "Exchange" not in tree, plan


def test_j08_full_outer_joins_aggregates_not_facts(spark):
    """j08 must aggregate BOTH sides to one row per key before the full
    outer join, so the outer shuffle moves counts: the plan's join must
    be FullOuter with a HashAggregate under each side, and no
    BroadcastNestedLoopJoin."""
    plan = _plan(QUERIES["j08_full_outer"](spark, SF_TEST))
    assert "FullOuter" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    tree = plan.split("\n\n")[0]
    join_line = next(
        i for i, ln in enumerate(tree.splitlines()) if "FullOuter" in ln
    )
    below = "\n".join(tree.splitlines()[join_line:])
    assert below.count("HashAggregate") >= 2, plan


def test_o07_zorder_is_single_aggregate_over_scan(spark):
    """The z-interleave is row-local bit arithmetic: o07's plan must be
    one grouped aggregate (map-side partial + one exchange) directly over
    the scan — a second exchange or a window would mean the interleave
    stopped being in-plan."""
    plan = _plan(QUERIES["o07_zorder_cells"](spark, SF_TEST))
    tree = plan.split("\n\n")[0]
    assert "windowspecdefinition" not in tree.lower(), plan
    assert "partial_count" in plan, plan
    n_exchanges = sum(
        1 for ln in tree.splitlines() if "Exchange" in ln and "Reused" not in ln
    )
    assert n_exchanges <= 1, plan


def test_a22_cms_caches_token_counts_single_tokenize(spark):
    """a22's sketch, top-20, and probe branches all consume the token-
    count frame; without the cache each branch re-plans the full
    tokenize+count subtree (three corpus scans at 100 TB — the t09
    lesson). The plan must therefore read the cached vocabulary frame
    (InMemoryTableScan / TableCacheQueryStage) in at least two branches
    and contain at most ONE raw tokenize (Generate/explode) node."""
    df = QUERIES["a22_countmin_heavy_hitters"](spark, SF_TEST)
    plan = _plan(df)
    cached_reads = plan.count("InMemoryTableScan") + plan.count(
        "TableCacheQueryStage"
    )
    assert cached_reads >= 2, plan
    # every branch above the cache reads the vocabulary frame, so the
    # raw corpus parquet is ONE physical scan — the formatted plan
    # re-prints the InMemoryRelation's defining subtree under every
    # cached read, so count DISTINCT node ids, not printed lines
    import re

    scan_ids = {
        m.group(1)
        for ln in plan.splitlines()
        if "Scan parquet" in ln
        for m in [re.search(r"\((\d+)\)", ln)]
        if m
    }
    assert len(scan_ids) == 1, plan


def test_sql_broadcast_hint_is_honored(spark):
    """The SQL-surface join-strategy hint: /*+ BROADCAST(dim) */ must
    plan a BroadcastHashJoin even with autoBroadcastJoinThreshold
    disabled — the escape hatch when a dimension's stats undercount it
    at 100 TB and Catalyst would otherwise sort-merge."""
    from pyspark_bigdata_sars_cov_2_analysis_spark.plans.registry import table

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        table(spark, SF_TEST, "nation").createOrReplaceTempView("n_hint")
        table(spark, SF_TEST, "customer").createOrReplaceTempView("c_hint")
        hinted = spark.sql(
            """SELECT /*+ BROADCAST(n_hint) */ n_name, COUNT(*) AS n
               FROM c_hint JOIN n_hint ON c_nationkey = n_nationkey
               GROUP BY n_name"""
        )
        plan = _plan(hinted, "simple")
        assert "BroadcastHashJoin" in plan, plan
        control = spark.sql(
            """SELECT n_name, COUNT(*) AS n
               FROM c_hint JOIN n_hint ON c_nationkey = n_nationkey
               GROUP BY n_name"""
        )
        cplan = _plan(control, "simple")
        assert "SortMergeJoin" in cplan, cplan
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.catalog.dropTempView("n_hint")
        spark.catalog.dropTempView("c_hint")


def test_o09_assignment_broadcasts_no_fact_shuffle_before_window(spark):
    """o09's cell assignment must be a broadcast of the 16 centroids
    (never a shuffle of the embedding side); the only exchange class is
    the bounded per-cell window. Since the review-r9 IVF rewrite the
    assignment is a row-local argmax over the one-row broadcast codebook —
    no per-vector window exists at all, so the ONLY hashpartitioning
    exchange is the per-cell top-10 window, WindowGroupLimit-pruned
    (partial+final) so no task ever materializes an unbounded group."""
    plan = _plan(QUERIES["o09_cluster_balanced_sample"](spark, SF_TEST), "simple")
    assert "BroadcastExchange" in plan, plan
    n_shuffle = plan.count("Exchange hashpartitioning")
    assert n_shuffle <= 1, f"unexpected extra shuffle\n{plan}"
    assert plan.count("WindowGroupLimit") >= 2, plan  # partial+final


def test_e12_retention_single_user_shuffle_class(spark):
    """e12's distinct, cohort aggregate, and join are ALL keyed on
    user_id, so the plan needs at most two hashpartitioning exchange
    targets (user-keyed + the tiny final (cohort, offset) rollup) — a
    re-shuffle per stage would mean the keyed-frame reuse broke.
    Counted as DISTINCT formatted-mode node ids, not plan-text
    occurrences, AND with the cache cleared first: since r8 the wk frame
    is cached — the printer repeats the InMemoryRelation's defining
    subtree under every consumer, and once MATERIALIZED (the parity
    suite runs e12 earlier in a full-suite session) the in-memory scan
    itself carries an extra exchange node (the t09/a22 r7 rule: distinct
    ids + clearCache)."""
    from tests.test_shuffle_budget import count_shuffles

    spark.catalog.clearCache()
    df = QUERIES["e12_retention_cohorts"](spark, SF_TEST)
    n_shuffle = count_shuffles(df)
    assert n_shuffle <= 4, f"too many shuffles ({n_shuffle})"
    assert "Window" not in _plan(df, "simple")


def test_a24_no_window_stats_broadcast(spark):
    """a24's per-type stats must come from an aggregate broadcast back —
    never a window over each type's whole history."""
    plan = _plan(QUERIES["a24_zscore_anomaly"](spark, SF_TEST), "simple")
    assert "Window" not in plan, plan
    assert "BroadcastExchange" in plan, plan


def test_j10_deliberate_bnlj_tiny_dim(spark):
    """j10 is the documented EXCEPTION to the no-BNLJ rule: a point-in-
    range lookup against a 5-row broadcast dimension must plan as
    BroadcastNestedLoopJoin (no shuffle on the fact side before the
    aggregate) — the nuance that distinguishes 'BNLJ because the
    optimizer had no better idea' from 'BNLJ because it is optimal'."""
    plan = _plan(QUERIES["j10_range_lookup_broadcast"](spark, SF_TEST), "simple")
    assert "BroadcastNestedLoopJoin" in plan, plan
    n_shuffle = plan.count("Exchange hashpartitioning")
    assert n_shuffle <= 1, plan  # only the final 5-group aggregate


def test_ivf_single_full_scan_no_table_shuffle(spark):
    """s03/s04 (review r9 rewrite): IVF cell assignment is a row-local
    expression against the one-row broadcast codebook, so the embeddings
    table is scanned exactly ONCE unfiltered (3 further scans are the
    pushdown-pruned codebook/probe slivers) and the ONLY hashpartitioning
    exchange is the per-query ranking window — the former shape shuffled
    the whole table twice (per-vector assignment window + assignment
    join-back), which is the part that dies at 100 TB."""
    for name in ("s03_ivf_topk", "s04_ivf_multiprobe"):
        plan = _plan(QUERIES[name](spark, SF_TEST), "simple")
        assert plan.count("Scan parquet") == 4, (name, plan)
        n_shuffle = plan.count("Exchange hashpartitioning") + plan.count(
            "Exchange rangepartitioning"
        )
        assert n_shuffle == 1, (name, plan)
        # the codebook attaches as a one-row broadcast, the probes as a
        # broadcast hash join on cell — the big side never moves
        assert "BroadcastHashJoin" in plan, (name, plan)


def test_j11_lateral_join_decorrelates_to_window(spark):
    """DataFrame.lateralJoin's per-row top-2 subquery must DECORRELATE
    into one WindowGroupLimit-pruned ranking window + a join — never a
    per-outer-row re-execution (no nested-loop over the subquery, no
    extra exchange class beyond the keyed window/join shuffles)."""
    plan = _plan(QUERIES["j11_lateral_join_api"](spark, SF_TEST), "simple")
    assert "WindowGroupLimit" in plan, plan
    n_shuffle = plan.count("Exchange hashpartitioning")
    assert n_shuffle <= 2, plan


def test_j12_runtime_filter_injected_and_confs_restored(spark):
    """j12 must carry Catalyst's injected runtime filter: the creation
    side builds a bloom filter over the filtered dim's join key
    (bloom_filter_agg) and the FACT side's scan filter probes it
    (might_contain) — rows that cannot join die at the scan, never
    riding the join shuffle. The size-gate confs are pinned on a CLONED
    session (r14: the set-and-restore form mutated the SHARED session
    conf during the pin window, silently degrading any concurrently
    constructed plan); the caller's session confs must be exactly what
    they were — there is no pin window on them at all."""
    keys = (
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold",
        "spark.sql.autoBroadcastJoinThreshold",
    )
    before = {k: spark.conf.get(k) for k in keys}
    df = QUERIES["j12_runtime_filter"](spark, SF_TEST)
    assert {k: spark.conf.get(k) for k in keys} == before
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "bloom_filter_agg" in plan, plan
    assert "might_contain" in plan, plan
    # the probe sits on the fact (orders) side, upstream of the join
    probe_side = plan.split("might_contain")[1]
    assert "o_custkey" in plan.split("might_contain")[1][:200], probe_side[:200]


def test_sql11_sql_udf_inlines_no_python_worker(spark):
    """A SQL-body UDF must INLINE into the caller's expression tree —
    zero Python eval nodes even though the function is invoked twice
    (sum + predicate), staying inside whole-stage codegen. The contrast
    with u09/sql08, whose Arrow workers are the deliberate API
    attestations."""
    df = QUERIES["sql11_sql_body_udf"](spark, SF_TEST)
    plan = _plan(df, "simple")
    for node in ("BatchEvalPython", "ArrowEvalPython", "PythonUDF"):
        assert node not in plan, (node, plan)
    # the body is visibly INLINED arithmetic inside the aggregate (AQE's
    # pre-final simple plan hides codegen spans, so the inlining itself
    # is the witness), with a map-side partial — one scan, one exchange
    assert "* (1.0 - " in plan, plan
    assert "partial_sum" in plan, plan
    n_shuffle = plan.count("Exchange hashpartitioning")
    assert n_shuffle <= 1, plan


def test_o12_reservoir_group_limit_before_shuffle(spark):
    """o12's rank<=k predicate must compile to WindowGroupLimit with a
    PARTIAL mode instance below the lang exchange — each map task keeps
    only its local top-k before shuffling, the 100 TB-safe per-group
    selection; one keyed exchange total, no pow/ln in the plan (the
    cross-engine determinism rule — division-only priority keys)."""
    df = QUERIES["o12_weighted_reservoir"](spark, SF_TEST)
    plan = _plan(df, "simple")
    assert "WindowGroupLimit" in plan, plan
    assert "Partial" in plan.split("WindowGroupLimit")[-1][:120] or \
        plan.count("WindowGroupLimit") >= 2, plan
    assert "POWER" not in plan.upper().replace("LOWER", ""), plan
    n_shuffle = plan.count("Exchange hashpartitioning")
    assert n_shuffle <= 1, plan


def test_j13_nearest_single_shuffle_no_fanout(spark):
    """j13's nearest-either-direction pick must come from ONE keyed
    window sort over the tagged union (two frames, zero row fan-out) —
    never an equi join exploding each purchase against its user's whole
    view history. Two hash exchanges max: the view pre-aggregation and
    the union's keyed sort."""
    plan = _plan(QUERIES["j13_asof_nearest"](spark, SF_TEST), "simple")
    assert "Window" in plan, plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan, plan
    n_shuffle = plan.count("Exchange hashpartitioning")
    assert n_shuffle <= 2, plan


def test_g01_pagerank_iterations_are_broadcast_tiny(spark):
    """g01's fact-scale work must be ONE pass: the 4-table join
    aggregates straight to the <=|nations|^2 edge frame, which is CACHED
    (with the node frame) so the three unrolled iterations read
    InMemoryTableScans, not fact re-scans — the plan PRINTER repeats a
    cached relation's defining subtree under every reference, but
    execution materializes it once (the t09/a22 print-vs-run rule), so
    the load-bearing assertions are the cache wiring and the broadcast
    join shape, plus the iteration math staying integer (no doubles in
    the rank expressions)."""
    df = QUERIES["g01_pagerank_fixedpoint"](spark, SF_TEST)
    plan = _plan(df, "simple")
    assert plan.count("InMemoryTableScan") >= 4, plan  # ep x3 + nodes
    assert "BroadcastHashJoin" in plan, plan
    # fixed-point discipline: the rank expressions are bigint DIV chains
    assert " div " in plan and "rank_fp" in plan, plan
    got = {r.nationkey: r.rank_fp for r in df.collect()}
    assert len(got) == 25 and all(isinstance(v, int) for v in got.values())
    # total mass is conserved up to the documented floor leak: sum of
    # ranks stays within 2% below SCALE and never exceeds it
    total = sum(got.values())
    assert 0.98 * 10**9 <= total <= 10**9, total


def test_release_plan_caches_unpersists_tracked_frames(spark):
    """VERDICT r10 #5b: the plan-level caches (_curation_scored, o11's
    mixture frame, d24's signatures, s05's embeddings) register with
    the plan-cache registry so a resident service can release exactly
    them — the caller-owned unpersist seam — without nuking unrelated
    session caches."""
    from pyspark_bigdata_sars_cov_2_analysis_spark.plans import llmdata, registry

    registry.release_plan_caches()  # drain anything earlier tests pinned
    d = registry.table(spark, SF_TEST, "documents")
    scored = llmdata._curation_scored(d, "local")
    scored.count()  # materialize the cache
    assert scored.storageLevel.useMemory
    # an UNTRACKED cache must survive the release
    other = spark.range(10).cache()
    other.count()
    released = registry.release_plan_caches()
    assert released >= 1
    assert not scored.storageLevel.useMemory
    assert other.storageLevel.useMemory
    other.unpersist()
    # idempotent: nothing tracked after a release
    assert registry.release_plan_caches() == 0
