"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec, ...}, "sf": ...}. Each query timing includes full
execution to a count/collect — not just plan construction.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark_bigdata_sars_cov_2_analysis_spark import plans, start_session  # noqa: E402

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q9_product_profit",
    "q10_returned_items",
    "q18_large_volume",
    "q21_waiting_supplier",
    "w01_latest_per_group",
    "e01_tumbling_window",
    "e02_sessionize",
    "j06_asof_join",
    "j07_range_join_binned",
    "d02_minhash_lsh",
    "d07_dup_clusters",
    "d09_decontaminate",
    "d11_incremental_dedup",
    "d12_decontaminated_split",
    "d13_fuzzy_dedup_resolve",
    "d14_chunk_dedup_keep_first",
    "d16_containment_neardup",
    "o06_temperature_mixture",
    "t13_token_surprisal",
    "s01_cosine_topk",
    "t03_language_id",
    "u05_grouped_forecast",
    "t09_tfidf_top_terms",
    "t10_sequence_packing",
    "e08_gapfill_daily",
    "d18_curation_pipeline",
]

# Second-shelf extras (VERDICT r8 #6): the headline set tracks 30 of 178
# registered queries, leaving CPU regressions in the rest invisible (the
# exchange-budget gate only sees plan SHAPE). This shelf tracks the most
# expensive NON-headline queries by measured sf0.1 cost — a one-off
# r9 sweep of every non-headline registry query (single run, local[32],
# clearCache between queries); the r8 VERDICT's guess list (e12, s05,
# a22, w08, f06) was mostly NOT in the measured top — measurement wins.
# Shelf entries are diagnostics: timed and baselined like extras, never
# part of the headline `value`. Revisit membership when a sweep shows
# the top has moved.
EXTRAS_SHELF = [
    "d06_simhash_neardup",          # 33.9s at sweep time (6.3s after the
    #   r9 join rewrite) — 5.25M-pair output, the suite's most expensive
    #   materialization
    "d19_chunk_ingest_incremental",  # 13.0s — full ingest loop + writes
    "d20_band_ingest_incremental",   # 16.5s — the band-side ingest loop
    #   (registered after the sweep; measured directly)
    "sql03_recursive_calendar",      # 8.8s
    "t06_top_bigrams",               # 4.6s
    "d03_ngram_jaccard",             # 2.2s
    "e11_funnel_conversion",         # 1.8s
    "m04_real_bmp_roundtrip",        # 1.8s
    "t16_quality_audit_frame",       # 1.7s
    "e09_session_window_native",     # 1.5s
    "s04_ivf_multiprobe",            # 1.4s
    "f06_posexplode_roundtrip",      # 1.4s
    "s03_ivf_topk",                  # 1.4s
    "d21_curation_funnel",           # 2.1s — late-r9 funnel report; the
    #   most expensive of the eight late-r9 registrations (the other
    #   seven measured 0.3-0.9s and stay untracked)
    # r10 registrations ≥ ~1.4s by the same measured-sweep rule (the
    # other eight measured 0.2-1.3s and stay untracked):
    "d22_compacted_ingest",          # 14.0s — ingest loop + two state
    #   compactions (d19/d20's construction-time-work class)
    "t17_langid_confusion",          # 3.0s — full-corpus lang-ID rollup
    "d24_minhash_error",             # 1.9s — est-vs-exact over all
    #   candidate pairs (threshold-0 exact side is the bulk)
    "e15_snapshot_sink_stream",      # 1.7s — streaming drain + 2 reads
    "o11_budgeted_mixture",          # 1.6s — two-phase token prefix sum
    "a29_weighted_quantiles",        # 1.4s — range-bucketed exact
    #   weighted quantiles over lineitem
    "d25_cluster_size_audit",        # 5.2s — d07's label propagation +
    #   the size-histogram rollup
    "e16_scd2_stream_enrichment",    # 3.5s — streaming drain through
    #   the native parquet file sink + SCD2 interval join
    # VERDICT r10 #7 asked whether d25/e16 (suspected frozen on a
    # ≥2x-slow canary host) should be rebased: measured r11 on a clean
    # 0.96x-canary host they run 0.99x / 0.86x of their freeze — the
    # frozen values are tight, not inflated; DECISION: keep them.
    # r11 registrations by the same measured-sweep rule:
    "o14_snapshot_lifecycle",        # 2.4s — 3 publishes + compaction +
    #   two vacuums (o13/d22's construction-time-work class)
    "e17_statestore_keys",           # 1.6s — dedup drain + statestore/
    #   state-metadata reads
    # r12 registration by the same rule:
    "o15_schema_evolution",          # 3.5s — narrow publish + widened
    #   evolution append + refused drift attempt + compaction + three
    #   version reads (o13/o14's construction-time-work class)
    # r13 registrations by the same rule:
    "o16_data_skipping",             # 3.3s — 4 range-sliced publishes +
    #   clustered compaction + DML delete + pruned reads + change-feed
    #   diff (o13/o14/o15's construction-time-work class)
    "e18_snapshot_stream_source",    # ~7s — 4 publishes + compaction +
    #   THREE checkpointed availableNow drains through the
    #   snapshot_stream source (e15's read-side twin, same class)
]

# Frozen baseline (BASELINE_BENCH.json): regression gate, frozen under the
# SAME best-of-2 protocol this script runs. A query >1.5x its frozen
# time is flagged. GOVERNANCE: existing entries are immutable
# ("frozen_until": "protocol change") — a full re-freeze requires a bench
# protocol change, stated in the round verdict. Three sanctioned writes:
# `python bench.py --extend-baseline` ADDS entries for headline queries
# the baseline doesn't know yet and refuses to touch existing numbers;
# `python bench.py --refreeze` replaces the WHOLE baseline from the
# current run — used exactly once per sanctioned protocol change (round 4:
# replaced the round-1 single-shot freeze; round 8, per VERDICT r7 #2: the
# r4 entries predate the r6 clearCache protocol AND documented intra-day
# host drift had pushed identical code past the 1.5x flag line, so the r8
# re-freeze realigns every entry under the current protocol and adds the
# host-drift canary the ratios are now read against);
# `python bench.py --rebase-extras name1,name2` re-stamps the NAMED
# diagnostics-shelf entries from the current run, recording the replaced
# values and SPARK_GRAFT_REBASE_REASON in extensions — for extras whose
# QUERY was deliberately rewritten after its freeze (a 6x-improved query
# gated against its pre-rewrite time is blind to a real regression until
# it undoes the whole improvement). Headline entries are never
# rebaseable this way; a headline rewrite waits for a sanctioned
# refreeze so the headline total stays comparable across rounds.
BASELINE_PATH = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "BASELINE_BENCH.json"
)


def _extend_baseline(out: dict) -> None:
    # The "clean run" claim must be auditable (round-5 advice): refuse any
    # invocation whose protocol knobs deviate from the frozen defaults,
    # and stamp each extension with the run context so a contended or
    # nonstandard extension is distinguishable in BASELINE_BENCH.json.
    deviations = [
        f"{var}={os.environ[var]!r}"
        for var, default in (
            ("SPARK_GRAFT_BENCH_RUNS", "2"),
            ("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
            ("SPARK_GRAFT_CPUS", "32"),
        )
        if os.environ.get(var) not in (None, default)
    ]
    if deviations:
        print(
            "refusing to extend baseline: nonstandard env "
            + ", ".join(deviations),
            file=sys.stderr,
        )
        return
    with open(BASELINE_PATH) as f:
        base = json.load(f)
    if base.get("sf") != out["sf"]:
        print(
            f"refusing to extend baseline: sf mismatch ({out['sf']} run "
            f"vs {base.get('sf')} baseline)",
            file=sys.stderr,
        )
        return
    new = {n: t for n, t in out["queries"].items() if n not in base["queries"]}
    unchanged = {n: base["queries"][n] for n in base["queries"]}
    base["queries"].update(new)
    assert all(base["queries"][n] == v for n, v in unchanged.items()), (
        "refusing to modify frozen baseline entries"
    )
    # extras (diagnostics shelf) extend additively under the same rule:
    # never touch an existing frozen extras entry
    base_extras = base.setdefault("extras", {})
    new_extras = {
        n: t for n, t in out.get("extras", {}).items()
        if n not in base_extras
    }
    base_extras.update(new_extras)
    base["value"] = round(sum(base["queries"].values()), 3)
    base.setdefault("frozen_until", "protocol change")
    ext = base.setdefault("extensions", [])
    if new or new_extras:
        ext.append(
            {
                "queries": sorted(new),
                "extras": sorted(new_extras),
                "note": "additive, clean run",
                "runs_per_query": out.get("runs_per_query"),
                "agg": out.get("agg"),
                "sf": out["sf"],
                "recorded_utc": time.strftime(
                    "%Y-%m-%dT%H:%M:%SZ", time.gmtime()
                ),
            }
        )
    with open(BASELINE_PATH, "w") as f:
        json.dump(base, f, indent=1)
        f.write("\n")
    print(
        "baseline extended with "
        f"queries={sorted(new) or 'none'} extras={sorted(new_extras) or 'none'}",
        file=sys.stderr,
    )


def _rebase_extras(out: dict, names: list[str]) -> None:
    """Re-stamp named EXTRAS entries from this run (see GOVERNANCE note):
    only for shelf diagnostics whose query was deliberately rewritten
    after its freeze — the old gate value is kept in the extension
    record, and a reason must be stated via SPARK_GRAFT_REBASE_REASON."""
    reason = os.environ.get("SPARK_GRAFT_REBASE_REASON")
    if not reason:
        print(
            "refusing to rebase extras: set SPARK_GRAFT_REBASE_REASON "
            "(which rewrite, which commit)",
            file=sys.stderr,
        )
        return
    # dedupe, preserving order: a repeated name would otherwise record
    # {old: <new>} on its second pass, destroying the audit trail's true
    # frozen value; an empty list would "succeed" while rebasing nothing
    # and still append a junk extension record
    names = list(dict.fromkeys(names))
    if not names:
        print("refusing to rebase extras: no names given", file=sys.stderr)
        return
    with open(BASELINE_PATH) as f:
        base = json.load(f)
    if base.get("sf") != out["sf"]:
        print("refusing to rebase extras: sf mismatch", file=sys.stderr)
        return
    base_extras = base.setdefault("extras", {})
    replaced = {}
    for n in names:
        if n not in base_extras:
            print(f"refusing to rebase extras: {n} not frozen",
                  file=sys.stderr)
            return
        if n not in out.get("extras", {}):
            print(f"refusing to rebase extras: {n} not measured this run",
                  file=sys.stderr)
            return
        if n in base.get("queries", {}):
            print(f"refusing to rebase extras: {n} is a headline entry",
                  file=sys.stderr)
            return
        replaced[n] = base_extras[n]
        base_extras[n] = out["extras"][n]
    base.setdefault("extensions", []).append(
        {
            "rebased_extras": {
                n: {"old": replaced[n], "new": base_extras[n]}
                for n in replaced
            },
            "note": reason,
            "sf": out["sf"],
            "recorded_utc": time.strftime(
                "%Y-%m-%dT%H:%M:%SZ", time.gmtime()
            ),
        }
    )
    with open(BASELINE_PATH, "w") as f:
        json.dump(base, f, indent=1)
        f.write("\n")
    print(f"extras rebased: {sorted(replaced)}", file=sys.stderr)


def _refreeze_baseline(out: dict) -> None:
    """Replace the whole frozen baseline from this run (sanctioned per
    VERDICT r7 #2 — protocol change; see GOVERNANCE note above). Keeps
    the previous freeze's provenance in protocol_notes."""
    deviations = [
        f"{var}={os.environ[var]!r}"
        for var, default in (
            ("SPARK_GRAFT_BENCH_RUNS", "2"),
            ("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
            ("SPARK_GRAFT_CPUS", "32"),
        )
        if os.environ.get(var) not in (None, default)
    ]
    if deviations:
        print(
            "refusing to refreeze baseline: nonstandard env "
            + ", ".join(deviations),
            file=sys.stderr,
        )
        return
    try:
        with open(BASELINE_PATH) as f:
            prior = json.load(f)
        prior_note = (
            f"replaces the {prior.get('frozen_from', 'prior')} freeze "
            f"(total {prior.get('value')}s over "
            f"{len(prior.get('queries', {}))} queries)"
        )
    except (OSError, ValueError):
        prior_note = "no prior baseline found"
    # provenance comes from the invocation, not a hardcoded round label —
    # a later sanctioned refreeze must not stamp this round's story
    reason = os.environ.get(
        "SPARK_GRAFT_REFREEZE_REASON",
        "sanctioned protocol-change re-freeze (state the round and "
        "rationale via SPARK_GRAFT_REFREEZE_REASON)",
    )
    base = {
        "frozen_from": reason,
        "metric": out["metric"],
        "value": out["value"],
        "unit": out["unit"],
        "sf": out["sf"],
        "runs_per_query": out["runs_per_query"],
        "agg": out["agg"],
        "host_canary": {"sec": out["host_canary"]["sec"]},
        "queries": dict(out["queries"]),
        "extras": dict(out.get("extras", {})),
        "frozen_until": "protocol change",
        "extensions": [],
        "protocol_notes": (
            "clean re-freeze (sf0.1, local[32], best-of-2 minima, "
            "clearCache between queries, nothing else running): "
            + prior_note
            + ". Ratios are read against host_canary.vs_frozen — a fixed "
            "repo-code-independent workload timed in the same run "
            "(median of 5); divide a suspect per-query ratio by the "
            "canary ratio before believing it."
        ),
        "recorded_utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
    with open(BASELINE_PATH, "w") as f:
        json.dump(base, f, indent=1)
        f.write("\n")
    print("baseline re-frozen from this run", file=sys.stderr)


def _compact_summary(out: dict) -> dict:
    """VERDICT r14 What's-wrong #2: the round driver keeps only the LAST
    2,000 chars of bench stdout, and since r8 the full record outgrew
    that tail — BENCH_r{N}.json carried the extras flag lists but lost
    ``value``, ``host_canary``, and the headline times, so flags could
    only be adjudicated by re-running. The fix is one final COMPACT
    line (same metric/value/unit/sf, headline queries only, canary +
    regression lists) printed after the full record, so any tail
    capture is self-contained and the driver's line-parse finds a
    complete record again. Deliberately NOT the per-query ratio maps:
    at sf0.1 they would push this line itself past the 2,000-char tail
    and defeat it."""
    summary = {
        "metric": out["metric"],
        "value": out["value"],
        "unit": out["unit"],
        "queries": out["queries"],
        "sf": out["sf"],
        "host_canary": out["host_canary"],
    }
    for k in (
        "regressions",
        "regressions_raw",
        "extras_regressions",
        "errors",
    ):
        if k in out:
            summary[k] = out[k]
    return summary


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = start_session("bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warm the JVM + parquet footers + Python UDF workers once so timings
    # measure the queries, not process startup
    plans.QUERIES["q6_forecast_revenue"](spark, sf_dir).collect()
    spark.range(2).toPandas()
    spark.range(2).groupBy("id").applyInPandas(
        lambda pdf: pdf, schema="id long"
    ).count()

    # best-of-2: one-shot timings of sub-second queries swing 2-4x with
    # machine noise and flagged different "regressions" on every run; the
    # min of two executions measures the steady-state plan, which is what
    # the baseline gate is for. PROTOCOL NOTE: for a query that .cache()s
    # an intermediate (t09's tf frame), run 2 reuses the materialized
    # cache, so its min measures the warm-cache steady state — the frozen
    # t09 baseline entry was recorded under this same protocol, so the
    # ratio stays apples-to-apples; the cache is dropped before the NEXT
    # query below so it never competes for executor storage with later
    # timings.
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2"))

    # Host-drift canary (VERDICT r7 #2): a fixed, repo-code-INDEPENDENT
    # workload (range -> modulo keys -> hash aggregate, 32 partitions)
    # timed before any headline query. Identical code measured 28.8s ->
    # 33.9s across one idle day on this host (BASELINE_BENCH.json
    # protocol_notes), so per-query ratios need a same-run drift
    # reference: divide a suspect ratio by host_canary.vs_frozen before
    # believing it — no repo commit can move the canary, only the host
    # can. MEDIAN of 5, not best-of-2: the ~0.7s job's per-run jitter is
    # scheduler noise spanning 1.4-1.7x (measured at 50M and 200M rows —
    # size-independent), and the canary must resolve SUSTAINED 1.3-1.5x
    # drift, which moves the median but not reliably the minimum.
    canary_runs = []
    for _ in range(5):
        t0 = time.perf_counter()
        spark.range(0, 50_000_000, 1, 32).selectExpr(
            "id % 9973 AS k", "id AS v"
        ).groupBy("k").sum("v").count()
        canary_runs.append(time.perf_counter() - t0)
    canary = round(sorted(canary_runs)[2], 3)

    timings: dict[str, float] = {}
    extras: dict[str, float] = {}
    errors: dict[str, str] = {}
    # VERDICT r15 #3: cold/warm split. run 1 of each query is COLD (plan +
    # codegen + any tracked-cache fill paid inside the timing); run 2
    # reuses intra-query caches until the clearCache below. Recording the
    # per-run times alongside the min makes cache-assisted minima visible
    # without changing the protocol: `value`/`queries` stay the best-of-2
    # min the frozen baseline was recorded under.
    run_times: dict[str, list[float]] = {}
    for name in list(HEADLINE) + list(EXTRAS_SHELF):
        fn = plans.QUERIES[name]
        best = float("inf")
        completed = 0
        this_runs: list[float] = []
        # failure-tolerant: one broken query must not zero out the whole
        # round's measurements — record its error and keep timing the rest
        try:
            for _ in range(runs):
                t0 = time.perf_counter()
                df = fn(spark, sf_dir)
                n = df.count()
                elapsed = time.perf_counter() - t0
                # the min is taken on the raw time and rounded once at
                # output (value == round(min(raw)), the protocol the
                # frozen baseline was recorded under); the per-run
                # record is rounded for the record only
                best = min(best, elapsed)
                this_runs.append(round(elapsed, 3))
                completed += 1
                assert n >= 0
        except Exception as exc:  # noqa: BLE001
            # a best-of-fewer-runs timing is a different protocol than the
            # best-of-N baseline — discard the partial measurement instead
            # of letting a run-2 crash masquerade as a perf regression
            errors[name] = (
                f"{type(exc).__name__}: {exc}"[:500]
                + f" (completed {completed}/{runs} runs; partial timing discarded)"
            )
        finally:
            # release any cache a query pinned (round-5 advice: t09's tf
            # cache outlived its query and competed with the remaining
            # headline timings)
            spark.catalog.clearCache()
        if completed == runs:
            # EXTRAS_SHELF rows are diagnostics, never part of the
            # headline metric: keeping them out of `queries` preserves
            # the meaning of `value` (sum of HEADLINE only) across
            # rounds no matter what diagnostics come and go
            is_extra = name in EXTRAS_SHELF
            (extras if is_extra else timings)[name] = round(best, 3)
            run_times[name] = this_runs

    total = round(sum(timings.values()), 3)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    out = {
        "metric": "headline_queries_total_time",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "runs_per_query": runs,
        "agg": "min",
        "host_canary": {"sec": canary},
        # additions-only cold/warm record (VERDICT r15 #3): per-run times
        # in execution order — index 0 is the cold run (includes any
        # tracked-cache fill), later indexes are warm. Never read by the
        # regression gate; the frozen comparison stays on the min.
        "queries_runs": run_times,
    }
    if extras:
        out["extras"] = extras
    if errors:
        out["errors"] = errors
    try:
        with open(BASELINE_PATH) as f:
            base = json.load(f)
        if base.get("sf") == out["sf"]:
            drift = None
            if base.get("host_canary", {}).get("sec"):
                drift = round(canary / base["host_canary"]["sec"], 2)
                out["host_canary"]["vs_frozen"] = drift
            ratios = {
                name: (
                    round(timings[name] / base["queries"][name], 2)
                    if base["queries"].get(name)
                    else None
                )
                for name in timings
            }
            out["vs_baseline"] = ratios
            # VERDICT r8 #7: drift-normalize in the OUTPUT instead of
            # leaving the division to per-round judge arithmetic — the
            # canary is a repo-code-independent workload, so dividing by
            # its own vs_frozen removes host slowdown/speedup common to
            # every query. The raw ratios stay recorded for audit; the
            # regression gate reads the NORMALIZED figure (falling back
            # to raw when no canary is frozen).
            def _norm(rs):
                if drift is None or drift <= 0:
                    return dict(rs)
                return {
                    n: (round(r / drift, 2) if r is not None else None)
                    for n, r in rs.items()
                }

            norm = _norm(ratios)
            out["vs_baseline_drift_normalized"] = norm
            if extras and base.get("extras"):
                ex_ratios = {
                    n: round(extras[n] / base["extras"][n], 2)
                    for n in extras
                    if base["extras"].get(n)
                }
                out["extras_vs_baseline"] = ex_ratios
                ex_norm = _norm(ex_ratios)
                out["extras_vs_baseline_drift_normalized"] = ex_norm
                out["extras_regressions"] = sorted(
                    n for n, r in ex_norm.items()
                    if r is not None and r > 1.5
                )
            out["regressions"] = sorted(
                n for n, r in norm.items() if r is not None and r > 1.5
            )
            out["regressions_raw"] = sorted(
                n for n, r in ratios.items() if r is not None and r > 1.5
            )
    except (OSError, ValueError, KeyError):
        pass
    print(json.dumps(out))
    print(json.dumps(_compact_summary(out)))
    if "--extend-baseline" in sys.argv:
        if errors:
            print("refusing to extend baseline: errored run", file=sys.stderr)
        else:
            _extend_baseline(out)
    if "--rebase-extras" in sys.argv:
        if errors:
            print("refusing to rebase extras: errored run", file=sys.stderr)
        else:
            idx = sys.argv.index("--rebase-extras")
            # the operand must be a name list, not the next flag: under
            # `--rebase-extras --refreeze` the old code treated
            # '--refreeze' as a query name and emitted a confusing
            # 'not frozen' refusal (ADVICE r9)
            operand = sys.argv[idx + 1] if idx + 1 < len(sys.argv) else ""
            names = operand.split(",") if not operand.startswith("--") else []
            if not names:
                print(
                    "--rebase-extras needs a comma-separated name list",
                    file=sys.stderr,
                )
            _rebase_extras(out, [n for n in names if n])
    if "--refreeze" in sys.argv:
        if errors:
            print("refusing to refreeze: errored run", file=sys.stderr)
        else:
            _refreeze_baseline(out)
    spark.stop()


if __name__ == "__main__":
    main()
