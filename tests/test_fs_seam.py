"""The filesystem seam under the snapshot/marker layer (io/fs.py,
VERDICT r14 #2).

Three pin groups: (1) LocalFS primitive semantics — especially
``put_if_absent``'s first-writer-wins/no-torn-read contract, which the
whole MVCC protocol rests on; (2) scheme dispatch — ``file:`` URIs in
any slash spelling resolve to the local impl, unregistered object-store
schemes fail LOUDLY at the seam instead of os.* silently creating a
literal ``s3:`` directory; (3) ``file:``-URI end-to-end — a snapshot
table and a dedup ingest checkpoint driven entirely through URI paths
(publish/read/time-travel/compact/DML/vacuum/change-feed and marker
write/read), proving the layer works when callers consistently pass
URIs rather than pre-stripped local paths.
"""

from __future__ import annotations

import json
import os
import threading

import pytest

from pyspark_bigdata_sars_cov_2_analysis_spark.io import fs as FS
from pyspark_bigdata_sars_cov_2_analysis_spark.io import writers as W


# ---------------------------------------------------------------------------
# LocalFS primitives
# ---------------------------------------------------------------------------


def test_put_if_absent_first_writer_wins(tmp_path):
    p = str(tmp_path / "d" / "v00000001.json")  # parent doesn't exist yet
    assert FS.LOCAL.put_if_absent(p, "first") is True
    assert FS.LOCAL.put_if_absent(p, "second") is False
    # the loser's content is discarded WHOLE — never merged, never
    # overwritten (the takeover hazard the marker protocol closes)
    assert FS.LOCAL.read_text(p) == "first"
    # no stale staging files survive either outcome
    assert FS.LOCAL.list_names(str(tmp_path / "d")) == ["v00000001.json"]


def test_put_if_absent_race_exactly_one_winner(tmp_path):
    p = str(tmp_path / "claim")
    results = {}
    barrier = threading.Barrier(8)

    def claim(i):
        barrier.wait()
        results[i] = FS.LOCAL.put_if_absent(p, f"writer-{i}")

    threads = [threading.Thread(target=claim, args=(i,)) for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    winners = [i for i, won in results.items() if won]
    assert len(winners) == 1
    # the published content is exactly the winner's, complete
    assert FS.LOCAL.read_text(p) == f"writer-{winners[0]}"
    assert FS.LOCAL.list_names(str(tmp_path)) == ["claim"]


def test_localfs_read_list_remove_semantics(tmp_path):
    missing = str(tmp_path / "nope")
    # list of an absent prefix is EMPTY, not an error (empty-table read
    # path; object-store prefixes don't "exist")
    assert FS.LOCAL.list_names(missing) == []
    with pytest.raises(FileNotFoundError):
        FS.LOCAL.read_text(missing)
    # removes are idempotent-enough: already-gone is fine
    FS.LOCAL.remove(missing)
    FS.LOCAL.remove_tree(missing)
    FS.LOCAL.make_dirs(str(tmp_path / "a" / "b"))
    FS.LOCAL.make_dirs(str(tmp_path / "a" / "b"))  # exist_ok
    assert FS.LOCAL.is_dir(str(tmp_path / "a" / "b"))


def test_resolve_normalizes_file_uri_spellings(tmp_path):
    plain = str(tmp_path / "t")
    for spelling in (plain, f"file:{plain}", f"file://{plain}", f"file:///{plain.lstrip('/')}"):
        assert FS.LOCAL.resolve(spelling) == plain
    # RFC 3986 schemes are case-insensitive: dispatch lowercases, so
    # resolve must strip case-insensitively too or File:///x would
    # silently become the RELATIVE path 'File:/x' (review r15)
    assert FS.LOCAL.resolve(f"FILE:{plain}") == plain
    assert FS.LOCAL.resolve(f"File://{plain}") == plain
    # an authority component is honored for the local host only; any
    # other host is a REMOTE file system — refused, never misread as
    # the local path /host/...
    assert FS.LOCAL.resolve(f"file://localhost{plain}") == plain
    with pytest.raises(ValueError, match="non-local authority"):
        FS.LOCAL.resolve("file://nas01/exports/tbl")


def test_snapshotfs_interface_is_abstract():
    """A backend must implement every primitive: subclassing SnapshotFS
    and forgetting one is a loud TypeError at construction, never an
    inherited os.* call half-working against a URI string."""

    class Partial(FS.SnapshotFS):
        def resolve(self, path):
            return path

    with pytest.raises(TypeError):
        Partial()
    with pytest.raises(TypeError):
        FS.SnapshotFS()


# ---------------------------------------------------------------------------
# scheme dispatch
# ---------------------------------------------------------------------------


def test_for_path_dispatch():
    assert FS.for_path("/x/y") is FS.LOCAL
    assert FS.for_path("file:///x/y") is FS.LOCAL
    assert FS.for_path("relative/path") is FS.LOCAL
    # a lone drive-letter-ish prefix is not a URI scheme
    assert FS.for_path("c:whatever") is FS.LOCAL


def test_unregistered_scheme_fails_loudly_at_the_seam():
    with pytest.raises(NotImplementedError, match="put_if_absent"):
        FS.for_path("s3://bucket/table")
    # and therefore every snapshot entry point refuses an s3: path
    # instead of os.* quietly treating it as a relative local dir
    with pytest.raises(NotImplementedError, match="s3"):
        W.list_parquet_snapshots("s3://bucket/table")


def test_registry_extension_point(tmp_path):
    """An object-store backend plugs in via REGISTRY and the manifest
    layer lights up without touching writers.py — proven with a
    scheme-translating fake that maps mem://tbl onto a local dir."""
    root = str(tmp_path / "memstore")

    class MemFS(FS.LocalFS):
        @staticmethod
        def resolve(path: str) -> str:
            return os.path.normpath(root + "/" + path.removeprefix("mem://"))

    FS.REGISTRY["mem"] = MemFS()
    try:
        names = FS.for_path("mem://tbl").list_names(
            FS.for_path("mem://tbl").resolve("mem://tbl")
        )
        assert names == []
    finally:
        del FS.REGISTRY["mem"]


# ---------------------------------------------------------------------------
# file:-URI end-to-end through the snapshot layer
# ---------------------------------------------------------------------------


def _df(spark, lo, hi):
    return spark.range(lo, hi).selectExpr("id", "id * 2 AS v")


def test_snapshot_table_end_to_end_with_file_uri(spark, tmp_path):
    uri = f"file://{tmp_path}/tbl"
    local = str(tmp_path / "tbl")

    # publish (overwrite, then append) through the URI
    v1 = W.write_parquet_snapshot(_df(spark, 0, 10), uri)
    v2 = W.write_parquet_snapshot(_df(spark, 10, 15), uri, mode="append")
    assert (v1, v2) == (1, 2)

    # read latest + time travel through the URI
    assert W.read_parquet_snapshot(spark, uri).count() == 15
    assert W.read_parquet_snapshot(spark, uri, version=1).count() == 10

    # the manifests landed where a plain-path caller would look, and
    # vice versa: URI and plain spellings address ONE table
    assert [s["version"] for s in W.list_parquet_snapshots(local)] == [1, 2]
    assert W.read_parquet_snapshot(spark, local).count() == 15

    # compact through the URI
    res = W.compact_parquet_snapshot(spark, uri, target_files=1)
    assert res["compacted"] and res["version"] == 3

    # DML delete through the URI
    d = W.delete_from_snapshot(spark, uri, "id <= 4")
    assert d["deleted"] == 5
    assert W.read_parquet_snapshot(spark, uri).count() == 10

    # change feed through the URI
    changes = W.snapshot_changes(spark, uri, 3, 4)
    assert {r["_change_type"] for r in changes.collect()} == {"delete"}

    # vacuum through the URI: old versions drop, the live version stays
    rep = W.vacuum_parquet_snapshots(uri, keep=1, orphan_grace_sec=0)
    assert rep["dropped_versions"] == [1, 2, 3]
    assert W.read_parquet_snapshot(spark, uri).count() == 10
    assert [s["version"] for s in W.list_parquet_snapshots(uri)] == [4]
    # and the dropped versions' bytes are actually reclaimed
    data_dirs = os.listdir(os.path.join(local, "data"))
    live = {
        os.path.basename(os.path.dirname(W._local_path(f)))
        for s in W.list_parquet_snapshots(uri)
        for f in s["files"]
    }
    assert set(data_dirs) == live


def test_ingest_markers_end_to_end_with_file_uri(spark, tmp_path):
    """A dedup checkpoint seeded and fed two batches through a
    ``file://`` URI reads the same high-water mark, parameters and
    batch fingerprint through the URI as through the plain path: both
    spellings address one manifest set."""
    from pyspark_bigdata_sars_cov_2_analysis_spark.llmdata import dedup as D

    uri = f"file://{tmp_path}/ckpt"
    local = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    docs = spark.createDataFrame(
        [(d, f"document number {d} about file uri checkpoints and seams")
         for d in range(6)],
        "doc_id long, text string",
    )
    assert D.ingest_high_water_mark(uri) == -1
    D.write_chunk_checkpoint(docs.where("doc_id < 2"), uri, "doc_id", "text")
    D.chunk_ingest_batch_idempotent(docs.where("doc_id IN (2, 3)"), 0, uri, out)
    D.chunk_ingest_batch_idempotent(docs.where("doc_id > 3"), 1, uri, out)
    assert D.ingest_high_water_mark(uri) == D.ingest_high_water_mark(local) == 1
    assert D.read_chunk_params(spark, uri) == D.read_chunk_params(
        spark, local
    ) == {"chunk_words": 10, "n_buckets": 64}
    via_uri, via_path = W._latest_manifest(uri), W._latest_manifest(local)
    assert via_uri == via_path
    assert via_uri["fingerprint"] == D._batch_fingerprint(
        docs.where("doc_id > 3"), "doc_id", "text"
    )
    assert sorted(os.listdir(local)) == ["_snapshots", "data"]
    assert D.read_chunk_checkpoint(spark, uri, "doc_id").count() == 6


def test_tables_under_a_path_with_space_and_percent(spark, tmp_path):
    """A snapshot table and a band checkpoint under a directory named
    ``a b%41`` publish, rewrite, read, ingest and vacuum: new manifests
    name files by their real path, and ``resolve`` decodes the
    percent-escapes of Spark's ``file:`` URIs (``a%20b%2541``), so the
    URI of a real file resolves back to that file."""
    from pyspark_bigdata_sars_cov_2_analysis_spark.llmdata import dedup as D

    root = tmp_path / "a b%41"
    tbl = str(root / "tbl")
    W.write_parquet_snapshot(_df(spark, 0, 4), tbl, stats_columns=["id"])
    W.write_parquet_snapshot(
        _df(spark, 4, 8).repartition(2), tbl, mode="append"
    )
    assert W.compact_parquet_snapshot(spark, tbl)["compacted"]
    assert W.delete_from_snapshot(spark, tbl, "id = 5")["deleted"] == 1
    gone = W.vacuum_parquet_snapshots(tbl, keep=1, orphan_grace_sec=0)
    assert gone["dropped_versions"] == [1, 2, 3]
    assert sorted(os.listdir(os.path.join(tbl, "data"))) == [
        os.path.basename(os.path.dirname(f))
        for f in W._latest_manifest(tbl)["files"]
    ]
    latest = W.read_parquet_snapshot(spark, tbl)
    assert sorted(r.id for r in latest.collect()) == [0, 1, 2, 3, 4, 6, 7]
    pruned = W.read_parquet_snapshot(spark, tbl, where={"id": (2, 4)})
    assert sorted(r.id for r in pruned.collect()) == [2, 3, 4]
    for f in W._latest_manifest(tbl)["files"]:
        assert os.path.isfile(f) and f.startswith(str(root))
    uri = latest.inputFiles()[0]
    assert "a%20b%2541" in uri and os.path.isfile(W._local_path(uri))
    assert FS.LOCAL.resolve("file:///x/a%20b%2541/f") == "/x/a b%41/f"
    assert FS.LOCAL.resolve("/x/a b%41/f") == "/x/a b%41/f"  # plain: literal

    ckpt, out = str(root / "ckpt"), str(root / "out")
    docs = spark.createDataFrame(
        [(d, f"{w} {w}s {d} unrelated words for document {d} only")
         for d, w in enumerate(["apple", "river", "stone", "cloud", "tiger"])],
        "doc_id long, text string",
    )
    D.write_band_checkpoint(docs.where("doc_id < 3"), ckpt, "doc_id", "text")
    D.ingest_batch_idempotent(docs.where("doc_id >= 3"), 0, ckpt, out)
    assert D.ingest_high_water_mark(ckpt) == 0
    state = D.read_band_checkpoint(spark, ckpt, "doc_id")
    assert sorted(r.doc_id for r in state.select("doc_id").distinct().collect()) == [
        0, 1, 2, 3, 4
    ]
    assert sorted(r.doc_id for r in spark.read.parquet(out).collect()) == [3, 4]


def test_manifest_is_json_complete_after_claim(spark, tmp_path):
    """put_if_absent publishes complete content: every listed manifest
    parses as JSON with the protocol's required keys (the no-torn-read
    invariant, asserted at the JSON layer)."""
    path = str(tmp_path / "tbl")
    W.write_parquet_snapshot(_df(spark, 0, 5), path)
    W.write_parquet_snapshot(_df(spark, 5, 8), path, mode="append")
    d = os.path.join(path, "_snapshots")
    for n in sorted(os.listdir(d)):
        with open(os.path.join(d, n)) as fh:
            m = json.load(fh)
        assert {"version", "files", "rows", "mode"} <= set(m)


_RACER = r"""
import json, os, sys
sys.path.insert(0, {repo!r})
from pyspark_bigdata_sars_cov_2_analysis_spark.io import fs as FS

d = {d!r}
me = int(sys.argv[1])
claimed = []
# optimistic-publish loop, exactly the writers' shape: read the latest
# version, try to claim the next name, lost race -> recompute
for _ in range(200):
    names = FS.LOCAL.list_names(d)
    versions = sorted(
        int(n[1:-5]) for n in names if n.startswith("v") and n.endswith(".json")
    )
    nxt = (versions[-1] + 1) if versions else 1
    if nxt > {k}:
        break
    payload = json.dumps({{"version": nxt, "writer": me, "pad": "x" * 2000}})
    if FS.LOCAL.put_if_absent(os.path.join(d, f"v{{nxt:08d}}.json"), payload):
        claimed.append(nxt)
print("CLAIMED:" + json.dumps(claimed))
"""


def test_put_if_absent_cross_process_race(tmp_path):
    """The cluster story: N independent PROCESSES (not threads) race
    the optimistic-publish loop over one directory. Exactly-once claim
    per version, every manifest complete and attributable to exactly
    the process that claimed it, zero stray staging files."""
    import subprocess
    import sys

    d = str(tmp_path / "_snapshots")
    K = 24
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = _RACER.format(repo=repo, d=d, k=K)
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", script, str(i)],
            stdout=subprocess.PIPE,
            text=True,
        )
        for i in range(6)
    ]
    claims: dict[int, int] = {}
    for i, p in enumerate(procs):
        out, _ = p.communicate(timeout=120)
        assert p.returncode == 0, out
        line = [l for l in out.splitlines() if l.startswith("CLAIMED:")][-1]
        for v in json.loads(line[len("CLAIMED:"):]):
            assert v not in claims, (
                f"version {v} claimed by BOTH process {claims[v]} and {i}"
            )
            claims[v] = i
    # every version claimed exactly once, by somebody
    assert sorted(claims) == list(range(1, K + 1))
    # the surviving content is complete and matches the claimant
    names = sorted(os.listdir(d))
    assert names == [f"v{v:08d}.json" for v in range(1, K + 1)], names
    for v, owner in claims.items():
        with open(os.path.join(d, f"v{v:08d}.json")) as fh:
            m = json.load(fh)  # complete JSON — no torn manifest
        assert m["version"] == v and m["writer"] == owner
