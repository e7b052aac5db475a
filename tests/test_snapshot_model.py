"""Model-based property test for the snapshot-versioned table (r12).

The MVCC layer's unit tests pin individual scenarios; this drives RANDOM
operation sequences — overwrite, same-schema append, schema-evolution
append (both widening and narrowing directions), refused drift, refused
type conflict, compaction, vacuum, vacuum-under-writer-contention,
predicate delete (the r13 DML op), a stream batch's publish, its
replay and a colliding batch — against a
driver-side in-memory model of what every surviving version must
contain, column by column, null padding included. Overwrites declare
data-skipping stats (r13), so every surviving version is also read
through a pruned ``where=`` range and must equal the model's filtered
rows — whatever mix of stats-carrying, inherited-stats and stats-less
files the sequence left behind.
Any divergence between the manifest protocol and the model (a lost row,
a wrong schema after evolution, a vacuum that dropped a shared file, a
compaction that changed semantics) fails with the generating sequence as
the reproducer.

Kept deliberately small (each write is a real Spark job): ~10 examples
of ≤5 operations, two rows per write.
"""

from __future__ import annotations

from hypothesis import example, given, settings
from hypothesis import strategies as st

from pyspark_bigdata_sars_cov_2_analysis_spark.io import writers as W

NARROW = ["id", "v"]
WIDE = ["id", "v", "w"]

# (op, param): overwrite/append/evolve carry the schema to write with
_OPS = st.lists(
    st.one_of(
        st.tuples(st.just("overwrite"), st.sampled_from(["narrow", "wide"])),
        st.tuples(st.just("append_same"), st.none()),
        st.tuples(st.just("append_evolve"), st.none()),
        st.tuples(st.just("append_drift"), st.none()),
        st.tuples(st.just("append_type_conflict"), st.none()),
        st.tuples(st.just("compact"), st.integers(min_value=1, max_value=2)),
        st.tuples(st.just("vacuum"), st.integers(min_value=1, max_value=2)),
        st.tuples(
            st.just("vacuum_contended"), st.integers(min_value=1, max_value=2)
        ),
        st.tuples(st.just("publish_new"), st.none()),
        st.tuples(st.just("publish_replay"), st.none()),
        st.tuples(st.just("publish_collision"), st.none()),
        st.tuples(st.just("delete_even"), st.none()),
    ),
    min_size=1,
    max_size=6,
)


def _write_df(spark, ids, cols):
    rows = [
        tuple(
            {"id": i, "v": i * 2, "w": i * 10}[c] for c in cols
        )
        for i in ids
    ]
    schema = ", ".join(f"{c} long" for c in cols)
    return spark.createDataFrame(rows, schema=schema).coalesce(1)


def _expected_rows(model_version):
    """id -> {col: value-or-None} under the version's schema."""
    cols = model_version["schema"]
    out = {}
    for i, row_cols in model_version["rows"].items():
        full = {"id": i, "v": i * 2, "w": i * 10}
        out[i] = {
            c: (full[c] if c in row_cols else None) for c in cols
        }
    return out


def _check_version(spark, tbl, model_version, version, pruned=False):
    df = W.read_parquet_snapshot(spark, tbl, version=version)
    assert df.columns == model_version["schema"], (
        f"v{version} schema {df.columns} != {model_version['schema']}"
    )
    got = {
        r["id"]: {c: r[c] for c in model_version["schema"]}
        for r in df.collect()
    }
    assert got == _expected_rows(model_version), f"v{version} data diverged"
    if pruned:
        # r13 data-skipping invariant: a where= read must equal the
        # model filtered to the range, whatever mix of stats-carrying
        # and stats-less files the op sequence left behind (stats are
        # enabled on overwrites only, so appends/DML exercise both the
        # inherit path and the no-stats conservative path)
        ids = sorted(model_version["rows"])
        if not ids:
            return
        lo, hi = ids[0], ids[len(ids) // 2]
        sub = W.read_parquet_snapshot(
            spark, tbl, version=version, where={"id": (lo, hi)}
        )
        got_sub = {
            r["id"]: {c: r[c] for c in model_version["schema"]}
            for r in sub.collect()
        }
        want = {
            i: row
            for i, row in _expected_rows(model_version).items()
            if lo <= i <= hi
        }
        assert got_sub == want, (
            f"v{version} pruned read diverged on id∈[{lo},{hi}]"
        )


@given(_OPS)
# r13 regression: compaction of an evolved table materializes NULLS for
# pre-evolution rows — the r12 model expected real values here
@example([("overwrite", "narrow"), ("append_evolve", None), ("compact", 1)])
# r13 decision pin: an overwrite is a lineage BARRIER — the publish
# after it restarts at batch id 0 and must not be swallowed
@example([("publish_new", None), ("overwrite", "narrow"), ("publish_new", None)])
# r14: a mix whose feed carries a DML delete version AND a rewrite's
# delete/insert diff — the where=-restricted fold must still reconstruct
# the filtered latest (filter-commutes-with-diff, VERDICT r13 #8)
@example([
    ("overwrite", "narrow"), ("append_same", None),
    ("delete_even", None), ("overwrite", "wide"),
])
# the batch-commit rule: the committed batch's own rows replay as a
# no-op, before and after a compaction carries the mark forward, and
# the mark's id with other rows, or an id below it, is refused
@example([
    ("publish_new", None), ("publish_new", None), ("publish_replay", None),
    ("publish_collision", None), ("compact", 1), ("publish_replay", None),
])
@settings(max_examples=10, deadline=None)
def test_snapshot_table_matches_model(spark, tmp_path_factory, ops):
    tbl = str(tmp_path_factory.mktemp("snap_model") / "tbl")
    # model: versions[version] = {"schema": [cols...],
    #   "rows": {id: set(cols whose VALUE is present for the id — a
    #            column the row predates stays null forever, through
    #            merge-reads AND compaction rewrites)},
    #   "src": stream-batch stamp (int) or None,
    #   "batch": (ids, cols) of the batch src names, or None,
    #   "mode": overwrite|append|compact} — src mirrors the manifest
    # rules: stamped on publish_batch, inherited through unstamped
    # appends, carried (as the effective high-water) into compact
    # manifests; batch travels with it, as the manifest's batch_files
    # do. The effective high-water scans newest-first and an
    # UNSTAMPED OVERWRITE is a lineage BARRIER (VERDICT r12 advisory,
    # decided here): an overwrite is a table reset after which a fresh
    # stream may reuse batch ids — older stamps must not swallow them.
    versions: dict[int, dict] = {}
    next_id = 0

    def effective_mark():
        for v in sorted(versions, reverse=True):
            if versions[v]["src"] is not None:
                return versions[v]
            if versions[v]["mode"] == "overwrite":
                return None  # lineage barrier
        return None

    def effective_hwm():
        mark = effective_mark()
        return None if mark is None else mark["src"]

    def effective_batch():
        mark = effective_mark()
        return None if mark is None else mark["batch"]

    def fresh_ids():
        nonlocal next_id
        ids = [next_id, next_id + 1]
        next_id += 2
        return ids

    def latest():
        return versions[max(versions)] if versions else None

    for op, param in ops:
        cur = latest()
        if op == "overwrite":
            cols = NARROW if param == "narrow" else WIDE
            ids = fresh_ids()
            # stats on overwrites only: later appends must INHERIT the
            # stats columns, DML/compact must recompute them, and ops on
            # stats-less lineages must stay conservative — the pruned
            # read in _check_version pins all of it
            v = W.write_parquet_snapshot(
                _write_df(spark, ids, cols), tbl, stats_columns=["id"]
            )
            versions[v] = {
                "schema": list(cols),
                "rows": {i: set(cols) for i in ids},
                "src": None,
                "batch": None,
                "mode": "overwrite",
            }
        elif op == "append_type_conflict":
            if cur is None:
                continue  # appends need a table; skip op
            # same column names, but v arrives as a string — a type
            # conflict must refuse with OR WITHOUT evolution enabled,
            # leaving table and model untouched
            rows = [(str(i), f"x{i}") for i in fresh_ids()]
            bad = spark.createDataFrame(
                rows, schema="id string, v string"
            ).coalesce(1)
            for evolve in (False, True):
                try:
                    W.write_parquet_snapshot(
                        bad, tbl, mode="append",
                        allow_schema_evolution=evolve,
                    )
                    raise AssertionError("type-conflict append must refuse")
                except ValueError:
                    pass
            continue
        elif op in ("append_same", "append_evolve", "append_drift"):
            if cur is None:
                continue  # appends need a table; skip op
            if op == "append_same":
                cols = cur["schema"]
            else:
                cols = NARROW if cur["schema"] == WIDE else WIDE
            ids = fresh_ids()
            df = _write_df(spark, ids, cols)
            if op == "append_drift" and cols != cur["schema"]:
                try:
                    W.write_parquet_snapshot(df, tbl, mode="append")
                    raise AssertionError("drift append must refuse")
                except ValueError:
                    pass  # refused; table and model unchanged
                continue
            v = W.write_parquet_snapshot(
                df, tbl, mode="append",
                allow_schema_evolution=(op == "append_evolve"),
            )
            widened = cur["schema"] + [
                c for c in cols if c not in cur["schema"]
            ]
            versions[v] = {
                "schema": widened,
                "rows": {
                    **cur["rows"],
                    **{i: set(cols) for i in ids},
                },
                "src": cur["src"],  # unstamped appends inherit
                "batch": cur["batch"],
                "mode": "append",
            }
        elif op == "compact":
            if cur is None:
                continue
            res = W.compact_parquet_snapshot(spark, tbl, target_files=param)
            if res["compacted"]:
                # semantics-free: same schema, same per-row VALUES — a
                # row written before an evolution keeps its null padding
                # (the rewrite materializes the nulls into uniform
                # files, it never invents values; the r12 model wrongly
                # claimed full values here and hypothesis caught it once
                # the op mix could reach evolve→compact). The compact
                # manifest carries the effective high-water and SHEDS
                # the evolved flag (uniform files need no merge-read).
                assert not (
                    W._load_manifest(tbl, res["version"]) or {}
                ).get("evolved"), "compaction must shed the evolved flag"
                versions[res["version"]] = {
                    "schema": list(cur["schema"]),
                    "rows": {
                        i: set(cols) for i, cols in cur["rows"].items()
                    },
                    "src": effective_hwm(),
                    "batch": effective_batch(),
                    "mode": "compact",
                }
        elif op in ("publish_new", "publish_replay", "publish_collision"):
            hwm = effective_hwm()
            if op == "publish_replay":
                if hwm is None:
                    continue  # nothing published yet; skip op
                # the committed batch's own rows, re-sent under its id
                assert (
                    W.snapshot_publish_batch(
                        _write_df(spark, *effective_batch()), hwm, tbl
                    )
                    is False
                ), "replayed batch must be a publish no-op"
                continue  # table and model unchanged
            if op == "publish_collision":
                if hwm is None:
                    continue
                # the mark's id with other rows, and an id below the
                # mark: both are a restarted stream, refused with the
                # table and the model unchanged
                before = W.list_parquet_snapshots(tbl)
                sends = [(hwm, fresh_ids())]
                if hwm > 0:
                    sends.append((hwm - 1, effective_batch()[0]))
                for bid, ids in sends:
                    try:
                        W.snapshot_publish_batch(
                            _write_df(spark, ids, effective_batch()[1]),
                            bid, tbl,
                        )
                        raise AssertionError("batch collision must refuse")
                    except ValueError:
                        pass
                assert W.list_parquet_snapshots(tbl) == before
                continue
            cols = cur["schema"] if cur else NARROW
            ids = fresh_ids()
            bid = (hwm if hwm is not None else -1) + 1
            assert (
                W.snapshot_publish_batch(_write_df(spark, ids, cols), bid, tbl)
                is True
            )
            v = max(versions) + 1 if versions else 1
            versions[v] = {
                "schema": list(cols),
                "rows": {
                    **(cur["rows"] if cur else {}),
                    **{i: set(cols) for i in ids},
                },
                "src": bid,
                "batch": (ids, list(cols)),
                "mode": "append",
            }
        elif op == "delete_even":
            # r13 DML: DELETE WHERE id % 2 = 0 — survivors keep their
            # null pattern; the count must match the model's even ids
            if cur is None:
                continue
            evens = [i for i in cur["rows"] if i % 2 == 0]
            res = W.delete_from_snapshot(spark, tbl, "id % 2 = 0")
            assert res["deleted"] == len(evens)
            versions[res["version"]] = {
                "schema": list(cur["schema"]),
                "rows": {
                    i: set(c) for i, c in cur["rows"].items() if i % 2
                },
                "src": effective_hwm(),
                "batch": effective_batch(),
                "mode": "delete",
            }
        elif op == "vacuum":
            if cur is None:
                continue
            W.vacuum_parquet_snapshots(tbl, keep=param, orphan_grace_sec=0)
            for v in sorted(versions)[:-param]:
                del versions[v]
        elif op == "vacuum_contended":
            # VERDICT r12 stretch: a vacuum racing writers — a FRESH
            # unreferenced data dir (an in-flight writer between its
            # data write and manifest link) must survive the orphan
            # grace window; a STALE-mtime one (a long-crashed writer)
            # must be reclaimed; every surviving version still reads
            # per the model afterwards.
            if cur is None:
                continue
            import os
            import shutil

            fresh = os.path.join(tbl, "data", "v99999901-inflight")
            stale = os.path.join(tbl, "data", "v99999902-crashed")
            for d in (fresh, stale):
                os.makedirs(d)
                with open(os.path.join(d, "part-0.parquet"), "w") as fh:
                    fh.write("placeholder")
            os.utime(stale, (1, 1))  # crashed long before any grace
            W.vacuum_parquet_snapshots(
                tbl, keep=param, orphan_grace_sec=3600
            )
            assert os.path.isdir(fresh), (
                "vacuum reclaimed an in-flight writer's fresh data dir"
            )
            assert not os.path.isdir(stale), (
                "vacuum left a long-crashed writer's stale orphan"
            )
            shutil.rmtree(fresh)  # the simulated writer 'aborts'
            for v in sorted(versions)[:-param]:
                del versions[v]
        if versions:
            newest = max(versions)
            _check_version(spark, tbl, versions[newest], newest)
            mark = W._batch_mark(tbl, W._latest_manifest(tbl))
            hwm = None if mark is None else mark["src_batch"]
            assert hwm == effective_hwm(), (
                "replay-guard high-water diverged from the model"
            )

    # every SURVIVING historical version still reads per the model —
    # including through a data-skipping where= read (pruned only here,
    # not per-op: one extra read per surviving version, not per op)
    for v in sorted(versions):
        _check_version(spark, tbl, versions[v], v, pruned=True)

    # r13 change-feed invariant (only while the FULL history survives —
    # vacuum drops manifests the feed needs): folding the feed from the
    # beginning (add inserts, remove deletes, version order irrelevant
    # because the fold is a multiset sum) must reconstruct the latest
    # version's exact row multiset under whatever op mix ran —
    # append/evolve/compact/delete in any interleaving.
    if versions and min(versions) == 1:
        from collections import Counter

        feed = W.snapshot_changes(spark, tbl, 0)
        cols = [
            c for c in feed.columns
            if c not in ("_change_type", "_commit_version")
        ]
        folded: Counter = Counter()
        for r in feed.collect():
            key = tuple(r[c] for c in cols)
            folded[key] += 1 if r["_change_type"] == "insert" else -1
        negative = {k: c for k, c in folded.items() if c < 0}
        assert not negative, (
            f"feed deleted rows it never inserted: {negative}"
        )
        folded = +folded  # drop the exact-zero keys
        latest_model = versions[max(versions)]
        expected = Counter(
            tuple(row.get(c) for c in cols)
            for row in _expected_rows(latest_model).values()
        )
        assert folded == expected, "change feed does not fold to latest"

        # r14 (VERDICT r13 #8 stretch): where= must COMMUTE with the
        # diff — folding a range-restricted feed reconstructs the
        # latest version's row multiset restricted to the same range,
        # under the same random interleavings (previously unit-pinned
        # only). Updates keep their id, so a delete/insert pair never
        # straddles the range boundary and the fold stays consistent.
        latest_rows = _expected_rows(latest_model)
        latest_ids = sorted(latest_rows)
        if latest_ids:
            lo, hi = latest_ids[0], latest_ids[len(latest_ids) // 2]
            sub = W.snapshot_changes(spark, tbl, 0, where={"id": (lo, hi)})
            folded_sub: Counter = Counter()
            for r in sub.collect():
                key = tuple(r[c] for c in cols)
                folded_sub[key] += (
                    1 if r["_change_type"] == "insert" else -1
                )
            negative_sub = {k: c for k, c in folded_sub.items() if c < 0}
            assert not negative_sub, (
                f"restricted feed deleted rows it never inserted: "
                f"{negative_sub}"
            )
            expected_sub = Counter(
                tuple(row.get(c) for c in cols)
                for i, row in latest_rows.items()
                if lo <= i <= hi
            )
            assert +folded_sub == expected_sub, (
                f"where-restricted feed does not fold to the filtered "
                f"latest on id∈[{lo},{hi}]"
            )
