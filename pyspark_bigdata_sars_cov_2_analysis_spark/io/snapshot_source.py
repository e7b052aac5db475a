"""Streaming SOURCE over a snapshot-versioned parquet table (r13).

``streaming_snapshot_sink`` makes the MVCC table a streaming sink; this
closes the loop and makes it a streaming *source* — the pattern
transactional formats call "streaming from the table": a downstream
query tails the table's version log and receives each published
version's NEW ROWS as one micro-batch, exactly once, without ever
scanning the table.

    spark.readStream.format("snapshot_stream").load(tbl)

Design (the scale path, not the driver-side ``simpleStreamReader``):

- **Offsets are version numbers.** ``initialOffset`` is
  ``starting_version`` (default 0 = from the table's beginning);
  ``latestOffset`` is one readdir. The manifest log IS the write-ahead
  log — no extra state beyond Spark's own checkpoint.
- **Partitions are files.** ``partitions(start, end)`` resolves, on the
  driver, the files each version in ``(start, end]`` ADDED (manifest
  set-difference — tiny JSON reads, never a data scan) and emits one
  :class:`InputPartition` per file; ``read`` opens its one parquet file
  executor-side via pyarrow and yields Arrow record batches. Wall-clock
  per batch is O(new data), parallel across executors.
- **Exactly-once by immutability.** A replayed ``(start, end]`` range
  re-resolves the same immutable manifests to the same immutable files
  — bit-identical re-reads of real bytes at rest.
- **Insert-only semantics, refusal on rewrites** (the transactional-
  format default): ``append`` versions emit their new files; the
  table's FIRST version is the initial content; ``compact`` versions
  are content-identical by protocol and emit nothing; any other mode
  (overwrite / merge / delete / restore) RAISES naming the version —
  an insert-only stream cannot represent row removal — unless
  ``ignore_changes=true`` skips them (the consumer accepts missing the
  rewrite, e.g. when downstream is idempotent on a later backfill).

Caveats (documented contract): the stream needs every manifest in its
unconsumed range to survive vacuum (keep the vacuum horizon behind the
slowest consumer, exactly as transactional formats require); the
source's schema is pinned from the LATEST manifest at stream
definition, so a mid-stream schema evolution's extra columns are
projected away until the query restarts (Spark's own
schema-per-query rule — the sink side documents the mirror image);
and ``Trigger.AvailableNow`` falls back to Spark's SINGLE-BATCH
execution for Python stream sources (the MicroBatchExecution warning)
— one ``start()`` processes from the checkpointed offset to the
then-latest version and stops, so a drain that must also re-run a
previously-planned uncommitted batch picks up versions published
after that plan on its NEXT start (a continuously-triggered query has
no such seam).
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

from pyspark_bigdata_sars_cov_2_analysis_spark.io.writers import (
    _latest_manifest,
    _load_manifest,
    _local_path,
    _manifest_versions,
    _schema_ddl,
)

# Spark DDL type → pyarrow type for null-padding columns a pre-evolution
# file lacks; anything unmapped falls back to the row-tuple path
_PA_TYPES = {
    "bigint": "int64",
    "int": "int32",
    "smallint": "int16",
    "tinyint": "int8",
    "double": "float64",
    "float": "float32",
    "string": "string",
    "boolean": "bool_",
    "date": "date32",
}


class SnapshotStreamReader(DataSourceStreamReader):
    def __init__(self, options: dict, columns: list[str], types: dict) -> None:
        self.path = options.get("path")
        if not self.path:
            raise ValueError("snapshot_stream needs a path: .load(<table>)")
        self.starting_version = int(options.get("starting_version", 0))
        self.ignore_changes = (
            str(options.get("ignore_changes", "")).lower() == "true"
        )
        self.columns = columns
        self.types = types

    def initialOffset(self) -> dict:
        return {"version": self.starting_version}

    def latestOffset(self) -> dict:
        versions = _manifest_versions(self.path)
        latest = versions[-1] if versions else self.starting_version
        # never move backwards: a starting_version beyond the current
        # table just waits for the table to catch up
        return {"version": max(latest, self.starting_version)}

    def partitions(self, start: dict, end: dict):
        parts: list[InputPartition] = []
        prev_files: set | None = None
        for v in range(start["version"] + 1, end["version"] + 1):
            m = _load_manifest(self.path, v)
            if m is None:
                raise ValueError(
                    f"snapshot v{v} not found at {self.path} (vacuumed?) "
                    "— the stream needs every unconsumed version's "
                    "manifest; keep the vacuum horizon behind the "
                    "slowest consumer"
                )
            mode = m.get("mode")
            if v == 1:
                # the table's first version IS the initial content,
                # whatever published it — an overwrite-created table OR
                # the streaming sink, whose FIRST batch also publishes
                # mode='append' (there is no v0 to diff against)
                new_files = sorted(m["files"])
            elif mode == "compact":
                prev_files = set(m["files"])
                continue  # content-identical by protocol
            elif mode == "append":
                if prev_files is None:
                    base = _load_manifest(self.path, v - 1)
                    if base is None:
                        raise ValueError(
                            f"snapshot v{v - 1} not found at {self.path} "
                            f"(vacuumed?) — needed to resolve what v{v} "
                            "appended"
                        )
                    prev_files = set(base["files"])
                new_files = sorted(set(m["files"]) - prev_files)
            elif mode is None:
                # legacy pre-mode manifest: the version's relationship to
                # its predecessor is unknowable, so neither the append
                # fast path nor the rewrite skip applies — name the real
                # condition instead of calling it "a None rewrite"
                # (ADVICE r13). Manifests are immutable, so v itself can
                # never gain a mode — the only remediation is to resume
                # PAST it (review r14: "compact once to stamp a mode"
                # publishes a NEW manifest and would leave this same
                # error on every restart)
                raise ValueError(
                    f"snapshot v{v} at {self.path} predates mode-stamped "
                    "manifests, so the stream cannot tell appends from "
                    "rewrites; its manifest is immutable and can never "
                    f"gain a mode — restart with starting_version={v} "
                    "AND a fresh checkpointLocation (a checkpointed "
                    "stream resumes from its offset log and would hit "
                    "this version again)"
                )
            elif self.ignore_changes:
                prev_files = set(m["files"])
                continue
            else:
                raise ValueError(
                    f"snapshot v{v} at {self.path} is a {mode} rewrite — "
                    "an insert-only stream cannot represent it; restart "
                    f"with starting_version={v} and a FRESH "
                    "checkpointLocation to resume after it (a "
                    "checkpointed stream replays its offset log and "
                    "hits this version again), or pass "
                    "ignore_changes=true to skip rewrites under the "
                    "same checkpoint"
                )
            parts.extend(InputPartition(f) for f in new_files)
            prev_files = set(m["files"])
        return parts

    def read(self, partition: InputPartition):
        import pyarrow as pa
        import pyarrow.parquet as pq

        # _local_path resolves through the io/fs seam: local/file: paths
        # become plain paths, and an object-store backend's resolve()
        # returns the normalized URI — which pq.read_table accepts
        # directly (pyarrow dispatches its own FileSystem from the URI
        # scheme), so the executor-side data read composes with the
        # same seam the driver-side manifest I/O goes through
        tbl = pq.read_table(_local_path(partition.value))
        have = set(tbl.column_names)
        missing = [c for c in self.columns if c not in have]
        if not missing:
            # the common case: emit the file's own Arrow batches in the
            # declared column order — zero row-level Python work
            for batch in tbl.select(self.columns).to_batches():
                yield batch
            return
        if all(self.types.get(c) in _PA_TYPES for c in missing):
            n = tbl.num_rows
            cols = [
                tbl.column(c)
                if c in have
                else pa.nulls(n, getattr(pa, _PA_TYPES[self.types[c]])())
                for c in self.columns
            ]
            for batch in pa.table(
                cols, names=list(self.columns)
            ).to_batches():
                yield batch
            return
        # unmapped padded type (timestamp variants, decimals, nesteds):
        # correctness over speed — row tuples with None padding
        data = tbl.to_pydict()
        for i in range(tbl.num_rows):
            yield tuple(
                data[c][i] if c in have else None for c in self.columns
            )

    def commit(self, end: dict) -> None:
        pass  # the manifest log is the source of truth; nothing to ack


class SnapshotStreamDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "snapshot_stream"

    def _manifest_schema(self) -> list:
        # resolved ONCE and reused by schema() AND streamReader()
        # (review r14): Spark calls the two separately at stream
        # definition, and a schema-evolution publish landing between
        # them would hand the reader more columns than the query's
        # pinned schema — Arrow batches would misalign on the first
        # micro-batch
        cached = getattr(self, "_schema_cache", None)
        if cached is not None:
            return cached
        path = self.options.get("path")
        if not path:
            raise ValueError("snapshot_stream needs a path: .load(<table>)")
        latest = _latest_manifest(path)
        if latest is None:
            raise FileNotFoundError(f"no snapshots published at {path}")
        schema = latest.get("schema")
        if schema is None:
            raise ValueError(
                f"snapshot table at {path} predates manifest schemas — "
                "compact it once to record one"
            )
        self._schema_cache = schema
        return schema

    def schema(self) -> str:
        return _schema_ddl(self._manifest_schema())

    def streamReader(self, schema) -> SnapshotStreamReader:
        manifest_schema = self._manifest_schema()
        return SnapshotStreamReader(
            self.options,
            [c for c, _t in manifest_schema],
            dict(manifest_schema),
        )


def register_snapshot_stream(spark) -> None:
    """Idempotent format registration: after this,
    ``spark.readStream.format("snapshot_stream").load(tbl)`` tails the
    snapshot table's version log."""
    spark.dataSource.register(SnapshotStreamDataSource)
