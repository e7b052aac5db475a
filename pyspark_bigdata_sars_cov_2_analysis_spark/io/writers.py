"""Sinks (SURVEY.md §2.1 S4, S6).

The reference persists every result as single-file JSON-lines via
``df.coalesce(1).write.json(dir, mode='overwrite')`` (identical helpers at
``spark/jobs/cases_time_analysis.py:309-314`` et al.). We keep that contract
but make the single-file squeeze explicit and optional: at 100 TB a
``coalesce(1)`` is a serial bottleneck, so the default writes partitioned
output and ``single_file=True`` is the opt-in small-result path.
"""

from __future__ import annotations

import functools as _functools
import re
import time as _time
import uuid as _uuid
from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark_bigdata_sars_cov_2_analysis_spark.functions.localrel import (
    local_frame,
)
from pyspark_bigdata_sars_cov_2_analysis_spark.io import fs as _fs


def write_json_single_file(
    df: DataFrame,
    path: str,
    single_file: bool = True,
    audit_metrics: dict[str, Column] | None = None,
) -> dict | None:
    """JSON-lines sink, optionally collecting audit metrics IN the write.

    With ``audit_metrics`` (name → aggregate Column, e.g. ``{"n":
    F.count(F.lit(1)), "qty": F.sum("l_quantity")}``), an ``Observation``
    is attached to the plan so the metrics are accumulated DURING the
    write job and returned as a dict — at 100 TB this replaces the usual
    "write, then re-scan to validate" second pass with a free piggyback
    on the one pass the write already makes.

    .. warning:: **Session footgun (Spark 4.x):** the first ``observe()``
       on a session lazily initializes its non-serializable
       ``ObservationManager``; afterwards, shipping any MLlib model whose
       ``trainingSummary`` still references that session into a task
       closure (e.g. ``model.transform`` inside an evaluator) dies with
       ``java.io.NotSerializableException: ...ObservationManager``. If the
       same session later trains MLlib models, run audit-metric writes on
       ``spark.newSession()`` (same SparkContext, separate session state)
       or drop ``trainingSummary`` before models enter closures. Pinned by
       ``tests/test_io_and_ops.py::test_write_json_audit_metrics``, which
       runs in an isolated interpreter for exactly this reason.
    """
    _refuse_snapshot_table(path, "write_json_single_file")
    if audit_metrics:
        from pyspark.sql import Observation

        obs = Observation("write_audit")
        df = df.observe(
            obs, *[c.alias(n) for n, c in audit_metrics.items()]
        )
    out = df.coalesce(1) if single_file else df
    out.write.mode("overwrite").json(path)
    return obs.get if audit_metrics else None


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    _refuse_snapshot_table(path, "write_parquet")
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def _refuse_snapshot_table(path: str, op: str) -> None:
    """The generic sinks in this module must never write into a
    snapshot-versioned table (the snapshot tables below, and the dedup
    checkpoints of ``llmdata/dedup.py``, which commit the same way).
    ``df.write.mode('overwrite')`` pointed at such a table's ROOT would
    delete the ``_snapshots/`` manifests and every data dir wholesale —
    the one mistake the manifest protocol cannot survive. Pointed INSIDE
    the table (``tbl/data``, ``tbl/data/v00000001-xxxx``) it wipes data
    dirs that published manifests reference while the manifests
    survive, and every version's read breaks. Everything under a
    snapshot root belongs to the manifest protocol, so the check walks
    every ancestor directory (a handful of isdir stats, bounded by path
    depth). Use :func:`write_parquet_snapshot`,
    :func:`compact_parquet_snapshot` and :func:`vacuum_parquet_snapshots`
    on these tables."""
    import os as _os

    probe = _os.path.abspath(_local_path(path))
    while True:
        if _os.path.isdir(_os.path.join(probe, _SNAP_DIR)):
            raise ValueError(
                f"{op} refused: {path} is (inside) a snapshot-versioned "
                f"table at {probe} (has {_SNAP_DIR}/ manifests); use "
                "compact_parquet_snapshot/vacuum_parquet_snapshots "
                "instead"
            )
        parent = _os.path.dirname(probe)
        if parent == probe:
            return
        probe = parent


# ---------------------------------------------------------------------------
# Snapshot-versioned parquet tables (r10): MVCC manifests over plain parquet,
# the one commit protocol for persisted state (the dedup checkpoints of
# llmdata/dedup.py publish through the same primitives). Data files are
# immutable and write-once under a fresh data/ directory per publish
# (_stage: the write job is the publish's only Spark job), a tiny JSON
# manifest names the exact file set of each version, and publishing is one
# first-writer-wins create (io/fs.py put_if_absent) — readers resolve a
# manifest FIRST and then read only the files it names, so they can never
# observe a half-published version, a writer that crashes before its
# publish leaves only files no reader sees, and old versions stay readable
# (time travel) until vacuumed. Appends publish a longer file list
# (write_parquet_snapshot, the checkpoints' _commit); every rewrite —
# compaction, delete, checkpoint compaction — publishes through the one
# read-modify-write loop, _rmw_publish_snapshot.
# ---------------------------------------------------------------------------

_SNAP_DIR = "_snapshots"


def _local_path(p: str) -> str:
    """Canonical address of ``p`` (``file:``-URI in any slash count,
    percent-escapes decoded → plain local path, normalized so string
    comparison works — Spark's ``inputFiles()`` and older manifests spell
    files as ``file:///`` URIs while callers and newer manifests use
    plain paths). Delegates to the filesystem seam (``io/fs.py``, VERDICT r14
    #2): an object-store path resolves to its normalized URI instead,
    and an UNREGISTERED scheme fails loudly here — the entry point of
    every snapshot op — rather than os.* silently treating
    ``s3://bucket/x`` as a relative local path."""
    return _fs.for_path(p).resolve(p)


def _snap_path(path: str) -> str:
    fs = _fs.for_path(path)
    return fs.join(fs.resolve(path), _SNAP_DIR)


# exactly the names write_parquet_snapshot publishes (``v%08d.json``,
# which grows past 8 digits rather than truncating); any other file in
# _snapshots/ (a note, an editor backup) is not a manifest
_MANIFEST_RE = re.compile(r"v(\d{8,})\.json")


def _manifest_names(path: str, reverse: bool = False) -> list[str]:
    """Published manifest file names in NUMERIC version order — one
    readdir, non-manifest strays ignored. Sorted by the parsed number,
    not lexically: zero-padding makes the two agree up to v99,999,999,
    but a 9-digit name sorts lexically BEFORE the 8-digit ones."""
    names = _fs.for_path(path).list_names(_snap_path(path))
    return sorted(
        (n for n in names if _MANIFEST_RE.fullmatch(n)),
        key=lambda n: int(n[1:-5]),
        reverse=reverse,
    )


def list_parquet_snapshots(path: str) -> list[dict]:
    """All published snapshot manifests, oldest first. Listing cost is
    one readdir + one tiny JSON read per version — the full-history API
    (vacuum, audits, this module's tests). Single-version consumers
    (publish, read, compact) use :func:`_latest_manifest` /
    :func:`_load_manifest` instead, which read ONE manifest regardless
    of history length, so a long-lived table's per-batch cost never
    grows with its version count."""
    import json as _json

    fs = _fs.for_path(path)
    d = _snap_path(path)
    return [
        _json.loads(fs.read_text(fs.join(d, n)))
        for n in _manifest_names(path)
    ]


def _manifest_versions(path: str) -> list[int]:
    """Published version numbers, ascending — one readdir, no JSON
    reads (the zero-padded ``v%08d.json`` names sort numerically)."""
    return [int(n[1:-5]) for n in _manifest_names(path)]


def _load_manifest(path: str, version: int) -> dict | None:
    """One published manifest by version — O(1) tiny JSON read."""
    import json as _json

    fs = _fs.for_path(path)
    try:
        return _json.loads(
            fs.read_text(fs.join(_snap_path(path), f"v{version:08d}.json"))
        )
    except FileNotFoundError:
        return None


def _latest_manifest(path: str) -> dict | None:
    """The newest published manifest, or None on an empty table — one
    readdir + ONE JSON read, never O(versions). A publish racing the
    lookup can only ADD a newer manifest; the O_EXCL link in the writers
    turns a stale answer into a lost-race retry, so this is safe
    anywhere the full history isn't needed."""
    versions = _manifest_versions(path)
    if not versions:
        return None
    return _load_manifest(path, versions[-1])


def _schema_ddl(schema: list) -> str:
    """Manifest schema pairs → a Spark DDL string (shared by the empty-
    pruned-read frame, the change feed and the streaming source — one
    place to fix quoting, review r13)."""
    return ", ".join(f"`{c}` {t}" for c, t in schema)


def _pad_to_schema(df: DataFrame, schema: list) -> DataFrame:
    """Project ``df`` to the schema's columns in order, padding columns
    the frame lacks with typed nulls — the evolution null-padding rule,
    shared by the evolved merge-read and the change feed (review r13)."""
    have = set(df.columns)
    return df.select(
        *[
            (F.col(c) if c in have else F.lit(None).cast(t)).alias(c)
            for c, t in schema
        ]
    )


def _stats_scalar(v):
    """Parquet footer stat (or a prune-predicate bound) → a
    JSON-storable scalar whose PYTHON ordering matches the column's SQL
    ordering, or None when the type can't be ordered portably (the file
    then simply records no stats for the column — pruning stays
    conservative). Dates and NAIVE datetimes serialize as ISO-8601,
    which orders lexicographically. TZ-AWARE datetimes return None —
    Spark's default parquet timestamps are UTC-adjusted (tz-aware
    footer stats) while the read-side filter resolves a naive literal
    in the SESSION timezone, so comparing the two could prune a file
    whose rows the real predicate matches (review r13: the one way
    stats could have become load-bearing); TIMESTAMP_NTZ columns (naive
    stats vs naive bounds) still prune. Booleans are excluded — a
    two-value domain never prunes anything."""
    import datetime as _dt

    if isinstance(v, bool):
        return None
    if isinstance(v, (int, float, str)):
        return v
    if isinstance(v, bytes):
        try:
            return v.decode("utf-8")
        except UnicodeDecodeError:
            return None
    if isinstance(v, _dt.datetime):
        if v.tzinfo is not None:
            return None  # session-tz vs UTC ambiguity — never prune
        return v.isoformat()
    if isinstance(v, _dt.date):
        return v.isoformat()
    return None


def _footer_row_count(files: list[str]) -> int:
    """Total row count of freshly-written parquet files from their
    FOOTERS — driver-side, O(files) tiny metadata reads, no Spark job
    (optimization r15, guide §1.2 "don't compute things you throw
    away": the former read-back ``count()`` was a full second scan of
    every written byte per publish — at 100 TB, a duplicate pass of the
    entire commit). The footer's ``num_rows`` is written by the parquet
    writer at close and is exactly what any reader will see; an absent
    or unparseable footer (torn write) raises here, which is the same
    loud refusal the count-verify job gave, minus the data scan."""
    import pyarrow.parquet as _pq

    total = 0
    for f in files:
        try:
            total += _pq.ParquetFile(_local_path(f)).metadata.num_rows
        except Exception as exc:  # torn/corrupt footer → refuse loudly
            raise RuntimeError(
                f"unreadable parquet footer for freshly-written {f}: {exc}"
            ) from exc
    return total


def _parquet_files(root: str) -> list[str]:
    """Every ``.parquet`` file under ``root`` at any depth, sorted —
    listed driver-side through the filesystem seam, no Spark job."""
    fs = _fs.for_path(root)
    out = []
    for n in fs.list_names(root):
        p = fs.join(root, n)
        if fs.is_dir(p):
            out += _parquet_files(p)
        elif n.endswith(".parquet"):
            out.append(p)
    return sorted(out)


class _Staged(NamedTuple):
    dir: str
    files: list  # non-empty part files, canonical absolute paths
    rows: int  # their row count, from the footers
    schema: list  # [column, dtype] pairs of the written frame


def _stage(
    df: DataFrame, path: str, version: int, partition_by=(),
    prefix: str = "v", keep_one: bool = True,
) -> _Staged:
    """Write ``df`` to a fresh ``data/<prefix><version>-<uuid8>/``
    directory of the table at ``path`` (Hive-partitioned by
    ``partition_by``) and return what a manifest records of it — the
    one staging step of every publish. The files are listed through the
    filesystem seam and named by their canonical absolute path, the row
    count comes from their footers and the schema from ``df.dtypes``, so
    the write is the only Spark job: Spark stores the writing frame's
    schema in every footer, and inference over the files returns it.

    Spark writes a zero-row part file for an empty input partition;
    named in a manifest, every read would open it and no ``where=`` read
    could prune it (it has no stats), so zero-row files are removed —
    all but one with ``keep_one``, so an empty version keeps a schema
    file — and a directory left with none is removed. No reader sees
    the staged files until a manifest names them."""
    fs = _fs.for_path(path)
    data_dir = fs.absolute(
        fs.join(
            _local_path(path), "data",
            f"{prefix}{version:08d}-{_uuid.uuid4().hex[:8]}",
        )
    )
    writer = df.write.mode("error")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(data_dir)
    files = _parquet_files(data_dir)
    counts = [_footer_row_count([f]) for f in files]
    keep = [f for f, n in zip(files, counts) if n]
    if not keep and keep_one:
        keep = files[:1]
    for f in set(files) - set(keep):
        fs.remove(f)
    if not keep:
        fs.remove_tree(data_dir)
    return _Staged(data_dir, keep, sum(counts), [list(p) for p in df.dtypes])


def _content_fingerprint(df: DataFrame) -> str:
    """``df``'s content fingerprint, ``count:hash-sum``, from one
    aggregate: its row count and the sum of a per-row ``xxhash64`` over
    every column, bounded below 2^30 so the sum cannot overflow. It is
    order- and partitioning-independent, and a batch that reuses
    committed ids with other rows gets another fingerprint. Map columns
    hash as JSON (``xxhash64`` refuses maps)."""
    cols = []
    for c, t in df.dtypes:
        col = F.col("`" + c.replace("`", "``") + "`")
        cols.append(F.to_json(col) if "map<" in t else col)
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.pmod(F.xxhash64(*cols), F.lit(1_000_000_007))).alias("h"),
    ).collect()[0]
    return f"{int(row['n'])}:{int(row['h'] or 0)}"


def _collect_file_stats(
    files: list[str], columns: list[str]
) -> dict[str, dict]:
    """Per-file ``{column: [min, max]}`` from the parquet FOOTERS of
    freshly-written files — driver-side, O(files) tiny footer reads, no
    Spark job (the same moment and mechanism transactional formats use
    to collect data-skipping stats at commit time). A column with any
    row group lacking usable min/max in a file (unless the group is
    all-null, which constrains nothing) gets NO entry for that file —
    :func:`read_parquet_snapshot` treats a missing entry as
    "may contain anything" and keeps the file, so stats can only ever
    prune correctly, never wrongly."""
    import pyarrow.parquet as _pq

    wanted = set(columns)
    out: dict[str, dict] = {}
    for f in files:
        try:
            md = _pq.ParquetFile(_local_path(f)).metadata
        except Exception:
            continue  # unreadable footer → no stats, conservative
        bounds: dict[str, list] = {}
        usable: dict[str, bool] = {}
        for rg in range(md.num_row_groups):
            grp = md.row_group(rg)
            for ci in range(grp.num_columns):
                col = grp.column(ci)
                name = col.path_in_schema
                if name not in wanted or usable.get(name) is False:
                    continue
                s = col.statistics
                if s is None:
                    usable[name] = False
                    continue
                if not s.has_min_max:
                    # an all-null row group constrains nothing; any
                    # other missing-bounds case poisons the column
                    if s.null_count is not None and (
                        s.null_count == col.num_values
                    ):
                        usable.setdefault(name, True)
                    else:
                        usable[name] = False
                    continue
                mn, mx = _stats_scalar(s.min), _stats_scalar(s.max)
                if mn is None or mx is None:
                    usable[name] = False
                    continue
                usable[name] = True
                cur = bounds.get(name)
                bounds[name] = (
                    [mn, mx]
                    if cur is None
                    else [min(cur[0], mn), max(cur[1], mx)]
                )
        entry = {
            c: bounds[c] for c in columns if usable.get(c) and c in bounds
        }
        if entry:
            out[f] = entry
    return out


def _prune_files(files: list, stats: dict, bounds: dict) -> list:
    """The one pruning rule (review r13 — it was written twice): keep a
    file iff every bound's recorded range can match (missing stats keep
    it)."""
    return [
        f
        for f in files
        if all(
            _file_may_match(stats.get(f), c, slo, shi)
            for c, (slo, shi, _lo, _hi) in bounds.items()
        )
    ]


_ISO_DATE = None  # compiled lazily; module imports stay top-light


def _temporal_shape(s):
    """'date' / 'datetime' for ISO-8601-shaped strings, else None."""
    import re

    global _ISO_DATE
    if _ISO_DATE is None:
        _ISO_DATE = (
            re.compile(r"\d{4}-\d{2}-\d{2}$"),
            re.compile(r"\d{4}-\d{2}-\d{2}[T ]"),
        )
    if _ISO_DATE[0].match(s):
        return "date"
    if _ISO_DATE[1].match(s):
        return "datetime"
    return None


def _file_may_match(stats_entry: dict | None, col: str, lo, hi) -> bool:
    """Can a file whose manifest stats are ``stats_entry`` contain a row
    with ``lo <= col <= hi`` (None = unbounded side)? Missing stats or
    an un-orderable comparison answer YES — pruning is only ever an
    optimization, never the correctness mechanism (the read applies the
    real filter regardless).

    Date-vs-datetime refusal (review r14): both serialize as ISO-8601,
    but the two SHAPES order inconsistently as raw strings —
    ``'2020-01-02T00:00:00' > '2020-01-02'`` lexicographically even
    though the SQL comparison promotes the date to midnight and says
    EQUAL, so a ``date`` bound on a timestamp-stats column (or the
    mirror) could prune a file whose rows the real predicate matches.
    Any comparison that would cross the two shapes answers YES instead.
    A genuine STRING column whose values merely look like dates loses a
    prune opportunity, never a row."""
    rng = (stats_entry or {}).get(col)
    if rng is None:
        return True
    mn, mx = rng

    def _cross_shaped(a, b):
        if not (isinstance(a, str) and isinstance(b, str)):
            return False
        sa, sb = _temporal_shape(a), _temporal_shape(b)
        return sa is not None and sb is not None and sa != sb

    try:
        if lo is not None and not _cross_shaped(mx, lo) and mx < lo:
            return False
        if hi is not None and not _cross_shaped(mn, hi) and mn > hi:
            return False
    except TypeError:
        return True
    return True


def _prune_bounds(where: dict) -> dict[str, tuple]:
    """Normalize a ``where`` mapping (col → scalar for equality, col →
    ``(lo, hi)`` for an INCLUSIVE range, either side None for open) into
    stats-comparable bounds."""
    out = {}
    for col, spec in where.items():
        if isinstance(spec, (tuple, list)):
            if len(spec) != 2:
                raise ValueError(
                    f"where[{col!r}] range must be (lo, hi), got {spec!r}"
                )
            lo, hi = spec
            if lo is None and hi is None:
                raise ValueError(f"where[{col!r}] is unbounded on both sides")
        else:
            if spec is None:
                raise ValueError(
                    f"where[{col!r}] is None — NULL never equals anything; "
                    "filter nulls with a real predicate on the result"
                )
            lo = hi = spec
        out[col] = (
            _stats_scalar(lo) if lo is not None else None,
            _stats_scalar(hi) if hi is not None else None,
            lo,
            hi,
        )
    return out


def _where_condition(bounds: dict[str, tuple]):
    """The EXACT filter for the normalized ``where`` bounds — applied to
    every pruned read so stats are never load-bearing for correctness."""
    cond = F.lit(True)
    for col, (_slo, _shi, lo, hi) in bounds.items():
        if lo is not None:
            cond = cond & (F.col(col) >= F.lit(lo))
        if hi is not None:
            cond = cond & (F.col(col) <= F.lit(hi))
    return cond


def write_parquet_snapshot(
    df: DataFrame, path: str, mode: str = "overwrite",
    src_batch: int | None = None, allow_schema_evolution: bool = False,
    stats_columns: list[str] | None = None,
) -> int | None:
    """Publish ``df`` as a new VERSION of the snapshot table at ``path``;
    returns the version number (None: a replayed ``src_batch``, see
    below). ``mode='overwrite'`` makes the new
    version exactly ``df``; ``mode='append'`` makes it the previous
    version's file set PLUS ``df``'s new files — an append never
    rewrites a byte of existing data, it only publishes a longer file
    list (the manifest-level append a transactional format calls a new
    snapshot).

    Protocol (crash-safe at every step): (1) write the data files to an
    immutable uniquely-named dir ``data/v<N>-<uuid>/`` — a crash here
    leaves an orphan dir no manifest references, invisible to every
    reader, reclaimed by :func:`vacuum_parquet_snapshots`; (2) list the
    written files through the filesystem seam and count their rows from
    the parquet footers (the footer is written at file close, so a torn
    write fails loudly); the schema is the frame's own ``dtypes``, which
    is what Spark stored in every footer — :func:`_stage`, so the write
    is the publish's only Spark job; (3) publish
    ``_snapshots/v<N>.json`` with O_EXCL — if a concurrent writer
    claimed N first, re-publish as N+1 (the uuid in the data dir name
    keeps the loser's files distinct; for ``append`` the retry re-reads
    the NEW latest manifest so the lost race cannot drop the winner's
    rows). Readers (:func:`read_parquet_snapshot`) never list the data
    directory — they read exactly the manifest's file list, so a
    half-written version is unobservable by construction.

    ``src_batch`` makes this the publish of that micro-batch: the
    batch-commit rule (:func:`_admit_batch`) admits it before the write
    and again against the manifest each attempt publishes over, so a
    racing replay or collision is caught too; a replay returns None and
    publishes nothing. A published batch's manifest records its id and
    the files it staged (``batch_files``), the mark the rule checks
    later batches against; the write stays the publish's only job. The
    manifest is the commit record, so at-least-once delivery publishes
    exactly once.

    ``stats_columns`` (r13 — manifest-level DATA SKIPPING, the mechanism
    transactional formats use to avoid scanning 100 TB for a one-day
    query): per-file min/max for the named columns are read from the
    freshly-written parquet FOOTERS (driver-side, no extra Spark job)
    and recorded in the manifest; :func:`read_parquet_snapshot`'s
    ``where=`` then drops files whose recorded range cannot match BEFORE
    the scan is planned. Appends INHERIT the table's recorded stats
    columns when the argument is omitted, so a long-lived streaming sink
    keeps its skipping stats maintained without re-declaring them; files
    published before stats were enabled simply have no entry and are
    always kept (conservative). Stats are never load-bearing — every
    pruned read re-applies the real predicate.

    ``allow_schema_evolution=True`` (VERDICT r11 #7 — the u12 unionByName
    discipline applied to the MVCC layer) lets an append ADD or OMIT
    columns instead of refusing: the new manifest records the WIDENED
    schema (table columns in their order, then the append's new columns)
    and is flagged ``evolved``, and :func:`read_parquet_snapshot` reads
    such versions with parquet schema-merge, padding nulls for files
    that predate a column — zero bytes rewritten, old versions still
    read with their OWN recorded schema. Same-name columns must keep
    their dtype; a type conflict always refuses. Drift-refusal stays the
    default so accidental producer drift cannot silently widen a table."""
    if mode not in ("overwrite", "append"):
        raise ValueError(f"mode must be overwrite|append, got {mode!r}")
    if stats_columns is not None and mode != "append":
        # appends may legitimately name table columns the batch lacks
        # (evolution); a fresh table's stats columns must exist
        unknown = set(stats_columns) - set(df.columns)
        if unknown:
            raise ValueError(
                f"stats_columns {sorted(unknown)} not in the written "
                f"schema {df.columns}"
            )
    spark = df.sparkSession
    _fs.for_path(path).make_dirs(_snap_path(path))
    last = _latest_manifest(path)
    fingerprint = _functools.cache(lambda: _content_fingerprint(df))
    if src_batch is not None and not _admit_batch(
        path, last, src_batch, fingerprint
    ):
        return None
    staged = _stage(df, path, (last["version"] + 1) if last else 1)
    new_files, n_new, new_schema = staged.files, staged.rows, staged.schema
    # a pre-manifest-schema table's schema, derived from the previous
    # version's footers once per base version, not once per retry
    legacy_schema: tuple[int, list] | None = None
    # footer stats for the NEW files, memoized per effective column set —
    # the files are fixed before the retry loop, but the effective set
    # can change with the observed latest manifest across retries
    stats_cache: dict[tuple, dict] = {}
    while True:
        # only the LATEST manifest matters for a publish — one JSON read
        # per attempt, never O(versions) (a long-lived sink's per-batch
        # cost must not grow with the table's history)
        prev = _latest_manifest(path)
        version = (prev["version"] + 1) if prev else 1
        if src_batch is not None and not _admit_batch(
            path, prev, src_batch, fingerprint
        ):
            return None  # a racing replay won; ours are unreferenced files
        if mode == "append" and prev:
            # schema-drift guard: a multi-footer read silently takes one
            # footer's schema, so an append must match the table's
            # recorded schema, ORDER included (a scan's column order
            # follows the sampled footer)
            prev_schema = prev.get("schema")
            if prev_schema is None:
                if legacy_schema is None or legacy_schema[0] != prev["version"]:
                    legacy_schema = (
                        prev["version"],
                        [
                            list(p)
                            for p in spark.read.parquet(
                                *prev["files"]
                            ).dtypes
                        ],
                    )
                prev_schema = legacy_schema[1]
            # once a version mixes file schemas it stays merge-read until
            # a compaction re-materializes uniform files
            evolved = bool(prev.get("evolved"))
            manifest_schema = prev_schema
            if new_schema != prev_schema:
                # compare names per spark.sql.caseSensitive: evolving 'V'
                # beside 'v' would make every merge-read ambiguous
                case_sensitive = (
                    str(
                        spark.conf.get("spark.sql.caseSensitive", "false")
                    ).lower()
                    == "true"
                )
                _norm = (lambda c: c) if case_sensitive else str.lower
                prev_types = {_norm(c): t for c, t in prev_schema}
                new_types = {_norm(c): t for c, t in new_schema}
                conflicts = sorted(
                    c
                    for c in prev_types.keys() & new_types.keys()
                    if prev_types[c] != new_types[c]
                )
                if conflicts:
                    # a type conflict always refuses, evolution or not
                    raise ValueError(
                        f"append schema drift at {path}: columns "
                        f"{conflicts} change dtype (table has "
                        f"{prev_schema}, append brings {new_schema}); "
                        "a type conflict cannot be merge-read — "
                        "overwrite (or align the DataFrame) instead"
                    )
                prev_names = {_norm(c): c for c, _t in prev_schema}
                case_collisions = sorted(
                    f"{prev_names[_norm(c)]!r} vs {c!r}"
                    for c, _t in new_schema
                    if _norm(c) in prev_names and prev_names[_norm(c)] != c
                )
                if case_collisions:
                    raise ValueError(
                        f"append schema drift at {path}: columns "
                        f"{case_collisions} differ only by case and the "
                        "session resolves names case-insensitively "
                        "(spark.sql.caseSensitive=false) — spell the "
                        "append's columns exactly as the manifest "
                        "records them"
                    )
                same_set = sorted(map(tuple, new_schema)) == sorted(
                    map(tuple, prev_schema)
                )
                if same_set:
                    # a pure reorder widens nothing — refuse it even
                    # under allow_schema_evolution
                    raise ValueError(
                        f"append schema drift at {path}: table has "
                        f"{prev_schema}, append brings {new_schema}; "
                        "columns match but ORDER differs — appends "
                        "must keep the table's column order (select "
                        "the columns in manifest order)"
                    )
                if allow_schema_evolution:
                    manifest_schema = prev_schema + [
                        p for p in new_schema if _norm(p[0]) not in prev_types
                    ]
                    evolved = True
                else:
                    raise ValueError(
                        f"append schema drift at {path}: table has "
                        f"{prev_schema}, append brings {new_schema}; "
                        "overwrite, align the DataFrame, or pass "
                        "allow_schema_evolution=True to widen the table"
                    )
            files = sorted(set(prev["files"]) | set(new_files))
            rows = prev["rows"] + n_new
        else:
            evolved = False
            manifest_schema = new_schema
            files, rows = new_files, n_new
        # data-skipping stats: explicit column set wins; appends inherit
        # the table's recorded set so sinks keep stats maintained
        if stats_columns is not None:
            eff_stats_cols = list(stats_columns)
        elif mode == "append" and prev:
            eff_stats_cols = prev.get("stats_columns")
        else:
            eff_stats_cols = None
        payload = {"version": version, "files": files, "rows": rows,
                   "mode": mode, "schema": manifest_schema,
                   "published_utc": _time.time()}
        if eff_stats_cols:
            if stats_columns is not None and mode == "append":
                # validate EXPLICIT append stats columns against the
                # post-merge table schema (review r13: skipping this let
                # a typo'd name commit as the table's inherited stats
                # set, silently disabling skipping forever); a table
                # column the batch lacks remains legal (evolution)
                unknown = set(stats_columns) - {
                    c for c, _t in manifest_schema
                }
                if unknown:
                    raise ValueError(
                        f"stats_columns {sorted(unknown)} not in the "
                        f"table schema {[c for c, _t in manifest_schema]}"
                    )
            key = tuple(eff_stats_cols)
            if key not in stats_cache:
                stats_cache[key] = _collect_file_stats(
                    new_files, eff_stats_cols
                )
            if mode == "append" and prev:
                file_set = set(files)  # hoisted: O(F), not O(F^2)
                carried = {
                    f: s
                    for f, s in (prev.get("stats") or {}).items()
                    if f in file_set
                }
            else:
                carried = {}
            payload["stats_columns"] = list(eff_stats_cols)
            payload["stats"] = {**carried, **stats_cache[key]}
        if evolved:
            payload["evolved"] = True
        # an unstamped append carries the batch mark forward, so a vacuum
        # that keeps only it cannot erase the replay guard; an unstamped
        # overwrite resets the table and the mark
        payload.update(
            {"src_batch": int(src_batch), "fingerprint": None,
             "batch_files": new_files}
            if src_batch is not None
            else _carried_mark(path, prev if mode == "append" else None)
        )
        if not _link_manifest(path, version, payload):
            continue  # lost the race: recompute against the new latest
        return version


def _as_of_epoch(as_of) -> float:
    """Normalize an as-of operand: epoch seconds pass through, ISO-8601
    strings parse with :func:`datetime.fromisoformat` (a naive string is
    taken as UTC — the timestamp every manifest records)."""
    from datetime import datetime, timezone

    if isinstance(as_of, (int, float)):
        return float(as_of)
    dt = datetime.fromisoformat(as_of)
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    return dt.timestamp()


def _version_as_of(path: str, as_of_epoch: float) -> int | None:
    """Newest published version whose ``published_utc`` is ≤ the target —
    binary search over the version listing, O(log versions) tiny JSON
    reads, never a full-history scan (the same no-O(n) discipline as
    :func:`_latest_manifest`). Valid because versions publish in
    strictly increasing order through one serialized O_EXCL link per
    table, so their wall-clock stamps are non-decreasing (module
    contract: a coordinator clock stepped BACKWARD between publishes
    could misorder stamps — as-of then resolves to a nearby version, and
    version-pinned reads stay exact). Manifests published before the
    r13 ``published_utc`` field — or vacuumed away mid-search — are
    treated as infinitely old, which biases toward older versions,
    never a version newer than asked for."""
    versions = _manifest_versions(path)
    lo, hi, found = 0, len(versions) - 1, None
    while lo <= hi:
        mid = (lo + hi) // 2
        m = _load_manifest(path, versions[mid])
        if m is None:
            # vacuumed mid-search: vacuum only drops the OLDEST
            # versions, so steer right like a very old timestamp — but
            # never RECORD the vanished version as the answer, or the
            # read would fail on a request a surviving version serves
            lo = mid + 1
            continue
        if float(m.get("published_utc", 0.0)) <= as_of_epoch:
            found = versions[mid]
            lo = mid + 1
        else:
            hi = mid - 1
    return found


def read_parquet_snapshot(
    spark, path: str, version: int | None = None, as_of_utc=None,
    where: dict | None = None,
):
    """Read a snapshot table AS OF ``version`` (default: latest). The
    read plans over exactly the manifest's immutable file list — a
    concurrent writer publishing version N+1 cannot perturb a running
    version-N scan, and pinning ``version`` is time travel. Versions
    flagged ``evolved`` (schema-evolution appends) are read with parquet
    schema-merge and projected to the manifest's recorded column order —
    files that predate a column pad it with nulls; every version reads
    with its OWN recorded schema.

    ``as_of_utc`` (VERDICT r12 next-round list) is TIMESTAMP time
    travel: epoch seconds or an ISO-8601 string (naive = UTC) resolves
    to the newest version published at-or-before that instant — "what
    did this table say at 14:00" without knowing version numbers, the
    ``TIMESTAMP AS OF`` of transactional table formats. Mutually
    exclusive with ``version``. Reading before the first publish (or
    past the vacuum horizon) raises: silently returning a NEWER version
    than asked for would un-time-travel the read.

    ``where`` (r13 — the read side of ``stats_columns``) maps column →
    scalar (equality) or ``(lo, hi)`` (INCLUSIVE range, either side None
    for open): files whose manifest-recorded min/max cannot intersect
    the predicate are dropped BEFORE the scan is planned — at 100 TB
    this is the difference between scanning the table and scanning one
    day's worth — and the real predicate is then applied to the
    surviving files, so the result is exact whether or not any stats
    exist (files without stats are always kept). Unknown columns raise;
    richer predicates belong in a normal ``.where()`` on the result."""
    # O(1) manifest reads regardless of history length: latest via one
    # readdir + one JSON read, pinned versions via a direct name lookup
    # (the versions listing for the error message is readdir-only),
    # as-of via an O(log versions) binary search
    if version is not None and as_of_utc is not None:
        raise ValueError("pass version OR as_of_utc, not both")
    if as_of_utc is not None:
        version = _version_as_of(path, _as_of_epoch(as_of_utc))
        if version is None:
            have = _manifest_versions(path)
            if not have:
                raise FileNotFoundError(
                    f"no snapshots published at {path}"
                )
            raise ValueError(
                f"no snapshot at {path} published at or before "
                f"{as_of_utc!r} (earliest surviving version is "
                f"v{have[0]})"
            )
    if version is None:
        snap = _latest_manifest(path)
        if snap is None:
            raise FileNotFoundError(f"no snapshots published at {path}")
    else:
        snap = _load_manifest(path, version)
        if snap is None:
            have = _manifest_versions(path)
            if not have:
                raise FileNotFoundError(
                    f"no snapshots published at {path}"
                )
            raise ValueError(
                f"snapshot v{version} not found at {path}; have {have}"
            )
    return _read_snapshot_files(spark, snap, where=where)


def _read_snapshot_files(
    spark, snap: dict, where: dict | None = None
) -> DataFrame:
    """Plan a scan over one manifest's immutable file list, honoring the
    ``evolved`` flag (merge-read + manifest-order projection); any other
    version reads with the schema its manifest records, so planning runs
    no schema-inference job (legacy schema-less manifests still infer).
    With ``where``, the list is first PRUNED by the manifest's per-file
    min/max stats (missing stats keep the file) and the real predicate
    is applied on top — stats only ever skip work, never decide rows."""
    files = snap["files"]
    cond = None
    if where:
        schema = snap.get("schema")
        if schema is not None:
            unknown = set(where) - {c for c, _t in schema}
            if unknown:
                raise ValueError(
                    f"where columns {sorted(unknown)} not in the "
                    f"snapshot schema {[c for c, _t in schema]}"
                )
        bounds = _prune_bounds(where)
        files = _prune_files(files, snap.get("stats") or {}, bounds)
        cond = _where_condition(bounds)
        if not files:
            if schema is not None:
                # every file pruned: an empty frame IS the exact answer
                # (stats are true bounds), with the manifest's schema.
                # local_frame keeps it a JVM LocalRelation — a
                # createDataFrame empty frame is a Python-RDD scan that
                # costs a Python worker round-trip in every downstream
                # job (r15, functions/localrel.py)
                return local_frame(spark, [], _schema_ddl(schema))
            files = snap["files"]  # legacy manifest: no schema ⇒ no
            # stats either, so this is unreachable — kept as a safe
            # full-scan fallback
    if snap.get("evolved"):
        # a PRUNED subset may retain no file carrying some evolved
        # column — the padding helper fills it with typed nulls exactly
        # like the files that predate it would have
        df = _pad_to_schema(
            spark.read.option("mergeSchema", "true").parquet(*files),
            snap["schema"],
        )
    elif snap.get("schema") is not None:
        # the manifest's recorded schema IS what inference over these
        # files gives (the writing frame's dtypes, which Spark stores in
        # every footer), so supplying it skips the schema-inference
        # Spark job per read
        df = spark.read.schema(_schema_ddl(snap["schema"])).parquet(*files)
    else:
        df = spark.read.parquet(*files)  # legacy manifest: no schema
    return df.where(cond) if cond is not None else df


def vacuum_parquet_snapshots(
    path: str, keep: int = 1, orphan_grace_sec: int = 86_400
) -> dict:
    """Delete data files referenced ONLY by snapshots older than the
    newest ``keep`` (and drop those manifests) plus any orphan data dir
    no manifest ever referenced (a crashed writer's leftovers). Readers
    of the kept versions are unaffected — their files are shared
    forward by construction of the append protocol. Returns what was
    removed. Run it in the same maintenance cadence as compaction;
    until then, time travel across the whole history stays available.

    ``orphan_grace_sec`` (review r10): an unreferenced data dir is
    indistinguishable from an IN-FLIGHT writer between its data write
    and its manifest publish — deleting it would make that writer
    publish a manifest naming vanished files. Dirs younger than the
    grace window are therefore left alone (default 24h, far beyond any
    write-to-publish gap); pass 0 only when no writer can be active
    (tests, exclusive maintenance windows).

    Ownership rule (r13, the shallow-clone guard): vacuum only ever
    deletes files under THIS table's own ``data/`` root. A shallow
    clone's manifests reference the SOURCE table's files — dropping a
    cloned version must drop the manifest but never reach into another
    table's data (the clone doesn't own those bytes; the source's own
    vacuum governs them). The compare is abspath-normalized, so any
    SPELLING of the same path works; a RELATIVE path resolves against
    the calling process's cwd (which may differ from where the JVM
    resolved the writes) — when in doubt the guard fails SAFE, skipping
    deletion rather than reaching into foreign bytes. Prefer absolute
    paths."""
    if keep < 1:
        raise ValueError("keep must be >= 1")
    fs = _fs.for_path(path)
    snaps = list_parquet_snapshots(path)
    kept, dropped = snaps[-keep:], snaps[:-keep]

    def _named(s) -> list:
        # a sink's batch mark names its batch's files (_admit_batch
        # fingerprints them on a replay), live while a kept manifest
        # carries that mark
        return s["files"] + (s.get("batch_files") or [])

    keep_files = {_local_path(f) for s in kept for f in _named(s)}
    base = _local_path(path)
    # canonical absolute form on BOTH sides of the ownership compare, or
    # a RELATIVE table path would match no manifest's file at all
    own_root = fs.absolute(fs.join(base, "data")) + "/"
    # manifests FIRST, then data: every listed manifest stays readable,
    # and a crash between the two phases only leaves unreferenced files
    # for the next vacuum's orphan sweep
    for s in dropped:
        fs.remove(
            fs.join(_snap_path(path), f"v{s['version']:08d}.json")
        )
    removed_files = []
    for s in dropped:
        for f in _named(s):
            local = _local_path(f)
            if not fs.absolute(local).startswith(own_root):
                continue  # another table's bytes (shallow clone): the
                # manifest drops, the source's own vacuum governs them
            if local not in keep_files and fs.exists(local):
                fs.remove(local)
                removed_files.append(f)
    # each top-level dir under data/ (a partitioned version's files sit
    # deeper, data/v=…/band=…/) is LIVE while a kept manifest names a file
    # under it, DEAD when only dropped manifests do (their files went
    # above), and an ORPHAN of a crashed pre-publish writer when none
    # does; abspath both sides, like the ownership compare (review r14)
    data_root = fs.join(base, "data")

    def _top_dirs(manifests) -> set:
        tops = set()
        for s in manifests:
            for f in _named(s):
                p = fs.absolute(_local_path(f))
                if p.startswith(own_root) and "/" in p[len(own_root):]:
                    tops.add(own_root + p[len(own_root):].split("/", 1)[0])
        return tops

    live_dirs, referenced_dirs = _top_dirs(kept), _top_dirs(snaps)
    removed_orphans = []
    now = _time.time()
    if fs.is_dir(data_root):
        for d in sorted(fs.list_names(data_root)):
            full = fs.absolute(fs.join(data_root, d))
            if full in live_dirs:
                continue
            if full not in referenced_dirs and (
                now - fs.mtime(full) < orphan_grace_sec
            ):
                continue  # possibly an in-flight writer's data
            fs.remove_tree(full)
            removed_orphans.append(d)
    return {
        "dropped_versions": [s["version"] for s in dropped],
        "removed_files": len(removed_files),
        "removed_orphan_dirs": removed_orphans,
    }


def _batch_mark(path: str, snap: dict | None) -> dict | None:
    """The manifest that holds the table's batch mark as of ``snap``, the
    newest manifest the caller read (None: no batch is committed since
    the table was created or reset). Every manifest this module and the
    dedup checkpoints publish records ``src_batch`` — the newest
    committed batch id, or null after an unstamped overwrite: a reset,
    after which a fresh stream may number its batches from 0 again. An
    append published before marks were carried forward lacks the field;
    for it the newest older manifest that has it holds the mark, unless
    an unstamped overwrite comes first."""
    if snap is not None and "src_batch" not in snap and (
        snap.get("mode") != "overwrite"
    ):
        older = [v for v in _manifest_versions(path) if v < snap["version"]]
        snap = None
        for v in reversed(older):
            m = _load_manifest(path, v) or {}
            if "src_batch" in m or m.get("mode") == "overwrite":
                snap = m
                break
    return snap if snap and snap.get("src_batch") is not None else None


def _carried_mark(path: str, snap: dict | None) -> dict:
    """The batch mark a manifest derived from ``snap`` records —
    ``src_batch``, ``fingerprint`` and ``batch_files`` — as
    :func:`_batch_mark` finds it, null without a mark."""
    mark = _batch_mark(path, snap) or {}
    keys = ("src_batch", "fingerprint", "batch_files")
    return {k: mark.get(k) for k in keys}


def _admit_batch(
    path: str, snap: dict | None, batch_id: int,
    fingerprint: Callable[[], str], what: str = "snapshot table",
) -> bool:
    """The one batch-commit rule of every streamed table — the snapshot
    sink and the dedup checkpoints — against the mark :func:`_batch_mark`
    finds from ``snap``, the table's newest manifest (-1: no batch):

    - an id above the mark is new: True, publish it;
    - an id below it raises: ids restarted (a new stream checkpoint
      over kept state) or a second stream shares the table;
    - the mark's own id is a replay, False, only when ``fingerprint()``
      (the batch's :func:`_content_fingerprint`) equals the committed
      batch's, and raises otherwise: a restarted stream's first batch
      can reuse the newest id with other rows. A dedup checkpoint's mark
      records its input batch's ``fingerprint`` (its state rows are
      derived, not the batch); a sink's records the ``batch_files`` its
      publish staged, which are the batch, fingerprinted only here, so
      a publishing sink batch runs no fingerprint job. A mark written
      before this rule has neither, and the equal id is taken as the
      replay.

    Negative ids raise: -1 means "no batch", the mark of a seed."""
    bid = int(batch_id)
    if bid < 0:
        raise ValueError(
            f"batch_id must be >= 0 (got {batch_id}): -1 is reserved for "
            "the seed, which commits no batch"
        )
    mark = _batch_mark(path, snap)
    hwm = -1 if mark is None else int(mark["src_batch"])
    if bid > hwm:
        return True
    if bid < hwm:
        raise ValueError(
            f"batch_id {bid} is below the {what}'s committed high-water "
            f"mark {hwm} at {path}: batch ids restarted (a new stream "
            "checkpoint over kept state?) or a second stream shares this "
            "path, and publishing would mix the two. Continue numbering "
            "above the mark (keep the original stream checkpoint), or "
            "reset the table (seed or overwrite it) for a new stream."
        )
    committed = mark.get("fingerprint")
    if committed is None and mark.get("batch_files"):
        committed = _content_fingerprint(
            SparkSession.active().read.parquet(*mark["batch_files"])
        )
    if committed is None:
        return False
    got = fingerprint()
    if got == committed:
        return False
    raise ValueError(
        f"batch_id {bid} equals the {what}'s committed high-water mark "
        f"{hwm} at {path} but carries DIFFERENT content than the committed "
        f"batch (fingerprint {got} != {committed}): this is not a replay "
        "but a restarted stream reusing the newest committed id, and "
        "publishing would overwrite or duplicate that batch. Continue "
        "numbering above the mark, or reset the table for a new stream."
    )


def _link_manifest(path: str, version: int, payload: dict) -> bool:
    """Atomically claim one manifest version via the filesystem seam's
    first-writer-wins ``put_if_absent`` (``io/fs.py`` — stage-then-link
    on LocalFS, a conditional PUT on object stores; review r10: readers
    can only ever open a complete manifest, never a torn one). Returns
    True when this writer claimed the version, False on a lost race —
    the caller recomputes against the new latest."""
    import json as _json

    fs = _fs.for_path(path)
    return fs.put_if_absent(
        fs.join(_snap_path(path), f"v{version:08d}.json"),
        _json.dumps(payload),
    )


def snapshot_publish_batch(
    batch_df: DataFrame, batch_id: int, path: str,
    allow_schema_evolution: bool = False,
    stats_columns: list[str] | None = None,
) -> bool:
    """One micro-batch of :func:`streaming_snapshot_sink`: publish the
    batch as a manifest-level append stamped with its id and its files
    (returns True), under the one batch-commit rule of
    :func:`_admit_batch`: an id above the table's mark publishes, an id
    below it raises, and the mark's own id is a no-op replay (returns
    False) only with the committed content, and raises otherwise. A
    publish runs only its write job; only the mark's own id runs the
    fingerprint aggregates, of the batch and of the committed files.

    The manifest is the commit record: a crash after the data write but
    before the publish leaves an orphan dir (invisible, vacuumed later)
    and the replay publishes fresh files once; a crash after the publish
    but before the stream checkpoint commit makes the replay a no-op.
    At-least-once delivery, exactly-once publish. An unstamped overwrite
    resets the mark, so a fresh stream (new checkpoint, ids from 0) may
    then feed the table; the old stream's checkpoint goes with it.

    ``allow_schema_evolution`` passes through to the append: within one
    streaming query the schema is fixed, so this matters across
    RESTARTS — a stream restarted after an upstream schema upgrade can
    widen its old table instead of refusing (r12)."""
    return write_parquet_snapshot(
        batch_df, path, mode="append", src_batch=int(batch_id),
        allow_schema_evolution=allow_schema_evolution,
        stats_columns=stats_columns,
    ) is not None


def _published_since_last_compact(path: str) -> int:
    """Number of manifests of ANY mode published after the newest
    ``compact`` one (all of them on a never-compacted table) — the
    durable compaction cadence of :func:`_drive_batches`. A manual
    overwrite or a checkpoint seed adds a small file set like an append
    does, so it counts too. Reads manifests newest-first up to the
    compact one: O(publishes since it), never O(versions)."""
    import json as _json

    fs = _fs.for_path(path)
    d = _snap_path(path)
    since = 0
    for n in _manifest_names(path, reverse=True):
        if _json.loads(fs.read_text(fs.join(d, n))).get("mode") == "compact":
            break
        since += 1
    return since


def _drive_batches(
    stream_df: DataFrame, path: str, stream_checkpoint: str,
    commit: Callable[[DataFrame, int], bool], compact: Callable[[], object],
    compact_every: int | None,
):
    """The one ``foreachBatch`` driver of every streamed table — the
    snapshot sink and the dedup checkpoints' streaming ingests: an
    ``availableNow`` stream over ``stream_df`` that hands each
    micro-batch to ``commit(batch_df, batch_id)`` (True: published,
    False: a replay, a raise: a collision — :func:`_admit_batch`) and,
    after a publish, runs ``compact()`` once ``compact_every`` (0/None:
    never) publishes have landed at ``path`` since its newest
    ``compact`` manifest. That cadence is counted from the manifests, so
    a restarted stream still compacts on the Nth publish and a replay,
    which publishes nothing, never compacts. Returns the
    ``DataStreamWriter``; callers ``.start()`` it."""

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if (
            commit(batch_df, int(batch_id))
            and compact_every
            and _published_since_last_compact(path) >= compact_every
        ):
            compact()

    return (
        stream_df.writeStream.foreachBatch(_process)
        .option("checkpointLocation", stream_checkpoint)
        .trigger(availableNow=True)
    )


def streaming_snapshot_sink(
    stream_df: DataFrame, path: str, stream_checkpoint: str,
    compact_every: int | None = None, target_files: int = 1,
    allow_schema_evolution: bool = False,
    stats_columns: list[str] | None = None,
    cluster_by: list[str] | None = None,
):
    """Structured-Streaming sink onto a snapshot-versioned parquet table:
    every micro-batch publishes ONE new table version (manifest-level
    append — zero bytes rewritten), so downstream consumers get MVCC
    reads, time travel across batch boundaries, and full isolation from
    in-flight publishes, on a plain filesystem. Runs on
    :func:`_drive_batches` with :func:`snapshot_publish_batch` per
    micro-batch, so the batch-commit rule is the one every streamed
    table keeps: an id above the mark publishes, an id below it raises,
    and the mark's own id is a no-op replay only with the committed
    content. Returns a ``DataStreamWriter``; callers ``.start()`` it.

    ``compact_every=N`` folds :func:`compact_parquet_snapshot` into the
    drain on the driver's durable cadence: after every Nth publish the
    latest version's file set is rewritten as ``target_files`` files and
    published as a new ``compact`` version, so a long-lived stream
    appending one tiny file set per micro-batch never degrades readers.
    Compaction versions are additive and every pre-compact version stays
    time-travelable until vacuumed.

    ``allow_schema_evolution`` lets a sink RESTARTED after an upstream
    schema upgrade widen its table (merge-read with nulls padded for
    pre-upgrade versions) instead of refusing every batch; within one
    query the schema is fixed, so the default stays strict.

    ``stats_columns`` declares data-skipping columns on the FIRST batch
    (later appends inherit the table's recorded set, so passing it every
    batch is idempotent); ``cluster_by`` makes the folded compaction
    range-cluster its rewrite, so the table's files stay range-DISJOINT
    on the skip columns as the stream grows — the combination is what
    keeps a ``where=`` read of a months-old streaming table from
    scanning every micro-batch's files."""
    return _drive_batches(
        stream_df, path, stream_checkpoint,
        lambda batch_df, batch_id: snapshot_publish_batch(
            batch_df, batch_id, path,
            allow_schema_evolution=allow_schema_evolution,
            stats_columns=stats_columns,
        ),
        lambda: compact_parquet_snapshot(
            stream_df.sparkSession, path, target_files=target_files,
            cluster_by=cluster_by,
        ),
        compact_every,
    )


def compact_parquet_snapshot(
    spark, path: str, target_files: int = 1,
    cluster_by: list[str] | None = None, force: bool = False,
) -> dict:
    """Rewrite the LATEST snapshot version's file set as ``target_files``
    files and publish the result as a NEW version — the small-files
    maintenance op for MVCC tables (a streaming sink appending one tiny
    file set per micro-batch accumulates exactly like the checkpoint
    buckets d22 compacts). Zero semantic change: the new manifest names
    the compacted files, every OLD version keeps its own manifest and
    files untouched (still time-travelable until vacuumed), and readers
    are isolated throughout because the manifest IS the atomicity — no
    window where the table is missing.

    Race protocol: :func:`_rmw_publish_snapshot` (staged, count-verified,
    recompacted against the new latest on a lost race). Already-compact
    tables (``<= target_files`` files) are a no-op — unless
    ``cluster_by`` asks for a layout change, or ``force=True`` demands
    the rewrite anyway (r13: how a SHALLOW CLONE materializes — a
    small clone would otherwise no-op and silently keep referencing the
    source's bytes past the source's vacuum horizon).

    ``cluster_by`` (r13 — the OPTIMIZE/CLUSTER BY of transactional
    formats): the rewrite range-partitions and sorts on the named
    columns instead of round-robin repartitioning, so the compacted
    files carry DISJOINT value ranges — exactly what makes the
    manifest's data-skipping stats (``stats_columns``) prune: a
    round-robin compaction of a streaming sink's files makes every file
    span the full key range and a ``where=`` read keeps all of them; a
    clustered compaction of the same table prunes to the one file whose
    range matches. The new manifest's stats are recomputed from the
    compacted footers for the table's recorded stats columns (or for
    ``cluster_by`` itself on a table that never declared any).

    Returns ``{"compacted", "version", "from_version", "files_before",
    "files_after", "rows", "retries"}``."""
    if target_files < 1:
        raise ValueError("target_files must be >= 1")

    def rewrite(src):
        if cluster_by:
            # legacy pre-schema manifests record no schema: resolve it
            # from the footers so the unknown-column refusal still fires
            tbl_schema = src.get("schema") or [
                list(p) for p in _read_snapshot_files(spark, src).dtypes
            ]
            unknown = set(cluster_by) - {c for c, _t in tbl_schema}
            if unknown:
                raise ValueError(
                    f"cluster_by columns {sorted(unknown)} not in the "
                    f"snapshot schema {[c for c, _t in tbl_schema]}"
                )
        if len(src["files"]) <= target_files and not cluster_by and not force:
            return None
        # evolved-aware read: compacting a schema-evolved version
        # materializes the widened schema into uniform files (nulls
        # filled), so the compact version no longer needs merge-reads
        reader = _read_snapshot_files(spark, src)
        if cluster_by:
            # disjoint per-file ranges: range-partition THEN sort within,
            # so footer min/max per file are tight and non-overlapping
            rewritten = reader.repartitionByRange(
                target_files, *cluster_by
            ).sortWithinPartitions(*cluster_by)
        else:
            rewritten = reader.repartition(target_files)
        # a clustered compaction on a stats-less table starts tracking
        # cluster_by
        stats_cols = src.get("stats_columns") or cluster_by
        fields = {"mode": "compact", "compacted_from": src["version"]}
        if stats_cols:
            fields["stats_columns"] = list(stats_cols)
        return rewritten, src["rows"], (), fields

    src, payload, retries = _rmw_publish_snapshot(path, rewrite)
    return {
        "compacted": payload is not None,
        "version": payload["version"] if payload else src["version"],
        "from_version": src["version"],
        "files_before": len(src["files"]),
        "files_after": len((payload or src)["files"]),
        "rows": src["rows"], "retries": retries,
    }


# attempts a rewrite publish makes before giving up on a table that keeps
# advancing under it
_PUBLISH_ATTEMPTS = 6


def _rmw_publish_snapshot(
    path: str, rewrite, prefix: str = "v", keep_one: bool = True
) -> tuple[dict, dict | None, int]:
    """The one optimistic read-modify-write publish of a
    manifest-committed table — snapshot compaction and delete, and the
    dedup checkpoints' compaction (``llmdata/dedup.py``) — the
    conflict-detection loop transactional formats run under their commit
    service, on a plain filesystem (r13):

    1. read the LATEST manifest ``src`` (the optimistic "read version");
    2. ``rewrite(src)`` returns None (nothing to do: the loop returns
       at once) or ``(frame, expected_rows, partition_by, fields)`` —
       the replacement content, the semantic count-verify, the staging
       layout, and the manifest fields the op sets or carries forward
       (``mode`` at least);
    3. stage ``frame`` (:func:`_stage` with ``prefix``/``keep_one``,
       the table's directory naming) and count-verify it from the
       footers — a mismatch removes the staged dir and raises;
    4. publish ``v(src+1)``: ``fields`` plus the staged files, rows and
       schema, data-skipping stats recomputed from the new footers for
       the manifest's ``stats_columns`` (the rewrite replaces every
       file), and the table's batch mark (:func:`_carried_mark`; a
       rewrite is maintenance on the stream's
       lineage, not a reset: a replay after it must still be a no-op,
       even once a vacuum keeps only the rewrite). One O_EXCL link;
       losing it means the table ADVANCED between the read and the
       publish — committing the stale rewrite would silently drop the
       winner's rows (the lost-update anomaly), so the attempt is
       abandoned whole (its dir becomes an invisible orphan for vacuum)
       and the loop re-reads and recomputes against the new latest, at
       most ``_PUBLISH_ATTEMPTS`` times in all.

    Returns ``(src, payload, retries)``: the base manifest, the
    published manifest (None when ``rewrite`` had nothing to do) and the
    number of lost races."""
    fs = _fs.for_path(path)
    for retries in range(_PUBLISH_ATTEMPTS):
        src = _latest_manifest(path)
        if src is None:
            raise FileNotFoundError(f"no snapshots published at {path}")
        plan = rewrite(src)
        if plan is None:
            return src, None, retries
        frame, expected_rows, partition_by, fields = plan
        version = src["version"] + 1
        staged = _stage(
            frame, path, version, partition_by, prefix=prefix,
            keep_one=keep_one,
        )
        if staged.rows != expected_rows:
            fs.remove_tree(staged.dir)
            raise RuntimeError(
                f"{fields['mode']} count-verify failed at {path}: expected "
                f"{expected_rows} rows from base v{src['version']}, the "
                f"rewrite wrote {staged.rows}; nothing published"
            )
        payload = {
            **fields, "version": version, "files": staged.files,
            "rows": staged.rows, "schema": staged.schema,
            "published_utc": _time.time(),
        }
        if payload.get("stats_columns"):
            payload["stats"] = _collect_file_stats(
                staged.files, payload["stats_columns"]
            )
        payload.update(_carried_mark(path, src))
        if _link_manifest(path, version, payload):
            return src, payload, retries
    raise RuntimeError(
        f"{fields['mode']} at {path} lost the publish race "
        f"{_PUBLISH_ATTEMPTS} times; the table is advancing faster than "
        "the rewrite"
    )


def delete_from_snapshot(spark, path: str, predicate) -> dict:
    """DELETE FROM a snapshot-versioned table: rows where ``predicate``
    (a Column or SQL string) evaluates TRUE are removed in ONE new
    published version — SQL three-valued semantics, so NULL-predicate
    rows are KEPT, matching ``DELETE FROM t WHERE p``. Same isolation,
    time-travel, high-water and conflict-detection guarantees as
    :func:`_rmw_publish_snapshot`; the rewrite materializes uniform
    files, so an evolved base sheds the flag exactly like compaction
    does. Returns ``deleted`` alongside the publish stats."""
    cond = F.expr(predicate) if isinstance(predicate, str) else predicate
    n_del = 0

    def rewrite(src):
        nonlocal n_del
        target = _read_snapshot_files(spark, src)
        n_del = target.where(cond).count()
        kept = target.where(~F.coalesce(cond, F.lit(False)))
        tbl_schema = src.get("schema") or [list(p) for p in target.dtypes]
        fields = {"mode": "delete", "replaced_from": src["version"]}
        if src.get("stats_columns"):
            fields["stats_columns"] = list(src["stats_columns"])
        return (
            kept.select(*[c for c, _t in tbl_schema]),
            src["rows"] - n_del, (), fields,
        )

    src, payload, retries = _rmw_publish_snapshot(path, rewrite)
    return {
        "version": payload["version"], "from_version": src["version"],
        "rows": payload["rows"], "retries": retries,
        "deleted": n_del,
    }


def snapshot_changes(
    spark, path: str, from_version: int, to_version: int | None = None,
    where: dict | None = None,
) -> DataFrame:
    """Row-level CHANGE DATA FEED between two versions of a snapshot
    table (r13 — the ``table_changes`` of transactional formats):
    everything that happened strictly AFTER ``from_version`` up to and
    including ``to_version`` (default latest), as one DataFrame of the
    table's columns plus ``_change_type`` (``insert`` | ``delete``; an
    update is a delete+insert pair at the same version, multiset-true)
    and ``_commit_version``. A downstream consumer that processed the
    table as of ``from_version`` applies exactly these rows to catch up
    — without re-reading the table.

    Cost is shaped by each version's MODE, read straight off its
    manifest:

    - ``append`` versions (including every streaming-sink batch) are
      O(new data): the inserts are exactly the files the manifest added,
      so the feed reads ONLY those files — at 100 TB a day's catch-up
      over an append lineage scans the day's batches, nothing else.
    - ``compact`` versions are content-identical by protocol
      (count-verified at publish) and contribute NOTHING — zero reads.
    - rewrite versions (``overwrite``/``merge``/``delete``/``restore``)
      need a multiset diff of two ADJACENT versions (``exceptAll`` both
      ways — null-safe, duplicate-true): two full scans each, the
      honest price of a feed across an arbitrary rewrite.

    Requires every manifest in ``from_version-1 .. to_version``'s diff
    chain to survive vacuum (the feed raises naming the missing version
    otherwise), and refuses a range across which a column changed DTYPE
    (one frame can't carry both). Schema changes by WIDENING are fine —
    pre-evolution rows pad nulls exactly like the table reads they came
    from. ``from_version=0`` is "from the table's beginning": the first
    version's full content arrives as ``insert`` rows at
    ``_commit_version`` 1 (whatever mode published it — an
    overwrite-created table or a streaming sink whose first batch is an
    append), so a consumer starting from nothing gets the whole history
    in one feed.

    ``where`` (the ``read_parquet_snapshot`` prune mapping: col →
    scalar or inclusive ``(lo, hi)``) restricts the feed to MATCHING
    rows and prunes with the manifests' data-skipping stats — "give me
    yesterday's changes for this key range" reads only the files whose
    recorded range can match, on both the append fast path and both
    sides of every rewrite diff. Sound because a per-row predicate
    commutes with the multiset diff (filter-then-diff ==
    diff-then-filter), and versions predating a ``where`` column
    contribute nothing (their value is NULL, which no range matches)."""
    latest = _latest_manifest(path)
    if latest is None:
        raise FileNotFoundError(f"no snapshots published at {path}")
    if to_version is None:
        to_version = latest["version"]
    elif to_version > latest["version"]:
        raise ValueError(
            f"to_version {to_version} is beyond the latest published "
            f"version {latest['version']} at {path}"
        )
    if from_version < 0:
        raise ValueError(f"from_version must be >= 0, got {from_version}")
    if to_version < 1:
        raise ValueError(
            f"to_version must be >= 1 (v{to_version} precedes every "
            "publish)"
        )
    if from_version > to_version:
        raise ValueError(
            f"from_version {from_version} > to_version {to_version}"
        )
    first_needed = max(from_version, 1)  # v0 never exists: 0 = beginning
    manifests: dict[int, dict] = {}
    for v in range(first_needed, to_version + 1):
        m = _load_manifest(path, v)
        if m is None:
            raise ValueError(
                f"snapshot v{v} not found at {path} (vacuumed or never "
                "published) — the change feed needs every version in "
                f"[{first_needed}, {to_version}]"
            )
        manifests[v] = m

    # one output schema for the whole range: first-seen column order,
    # dtype conflicts refused (a feed can't carry two types in one col)
    out_cols: list[tuple[str, str]] = []
    seen: dict[str, str] = {}
    for v in range(first_needed, to_version + 1):
        schema = manifests[v].get("schema")
        if schema is None:  # legacy pre-schema manifest: footers answer
            schema = [
                list(p)
                for p in _read_snapshot_files(spark, manifests[v]).dtypes
            ]
            manifests[v]["schema"] = schema
        for c, t in schema:
            if c in ("_change_type", "_commit_version"):
                raise ValueError(
                    f"table column {c!r} collides with a change-feed "
                    "metadata column"
                )
            if c not in seen:
                seen[c] = t
                out_cols.append((c, t))
            elif seen[c] != t:
                raise ValueError(
                    f"column {c!r} changes dtype across the range "
                    f"({seen[c]} → {t}); split the feed at the "
                    "type-changing version"
                )

    def _tagged(df: DataFrame, change: str, v: int) -> DataFrame:
        return df.withColumn(
            "_change_type", F.lit(change)
        ).withColumn("_commit_version", F.lit(v).cast("bigint"))

    if where:
        unknown = set(where) - {c for c, _t in out_cols}
        if unknown:
            raise ValueError(
                f"where columns {sorted(unknown)} not in the feed schema "
                f"{[c for c, _t in out_cols]}"
            )
    bounds = _prune_bounds(where) if where else None
    cond = _where_condition(bounds) if bounds else None

    def _new_rows(m: dict, files: list) -> DataFrame | None:
        """An append's added files → padded, where-filtered insert rows;
        stats-pruned to the files whose recorded range can match
        (missing stats keep the file), None when nothing can. Only for
        files ONE write job produced (uniform schema) — v1 goes through
        :func:`_side` instead, because a shallow CLONE's v1 inherits the
        source's possibly-evolved mixed-schema file list."""
        if bounds:
            files = _prune_files(files, m.get("stats") or {}, bounds)
            if not files:
                return None
        df = _pad_to_schema(spark.read.parquet(*files), out_cols)
        return df.where(cond) if cond is not None else df

    def _side(m: dict) -> DataFrame:
        """One side of a rewrite diff: the version's (stats-pruned,
        where-filtered) content padded to the feed schema. The version-
        local where keeps only columns the version's schema has; the
        full predicate re-applies post-pad, so a version predating a
        where column contributes nothing (NULL matches no range)."""
        sub = (
            {c: s for c, s in where.items() if c in {n for n, _t in m["schema"]}}
            if where
            else None
        )
        df = _pad_to_schema(
            _read_snapshot_files(spark, m, where=sub or None), out_cols
        )
        return df.where(cond) if cond is not None else df

    # alignment pads from each frame's OWN columns (an evolution append
    # may OMIT table columns, so its new files carry fewer columns than
    # the manifest) — the shared evolution null-padding helper
    parts: list[DataFrame] = []
    for v in range(from_version + 1, to_version + 1):
        m = manifests[v]
        if v == 1:
            # from_version=0: the table's first version IS the initial
            # content, whatever mode published it (overwrite-created
            # table, a sink's first append batch, or a shallow CLONE —
            # there is no v0). Read through _side, not a plain parquet
            # read: a clone's v1 inherits the source's possibly-EVOLVED
            # mixed-schema file list, where a one-footer-sampled plain
            # read would silently null out evolved columns (review r13)
            parts.append(_tagged(_side(m), "insert", v))
            continue
        prev = manifests[v - 1]
        if m.get("mode") == "compact":
            continue  # content-identical reorganization by protocol
        if m.get("mode") == "append":
            new_files = sorted(set(m["files"]) - set(prev["files"]))
            if not new_files:
                continue
            ins = _new_rows(m, new_files)
            if ins is not None:
                parts.append(_tagged(ins, "insert", v))
            continue
        cur_df, prev_df = _side(m), _side(prev)
        parts.append(_tagged(cur_df.exceptAll(prev_df), "insert", v))
        parts.append(_tagged(prev_df.exceptAll(cur_df), "delete", v))

    if not parts:
        ddl = (
            _schema_ddl(out_cols)
            + ", `_change_type` string, `_commit_version` bigint"
        )
        return local_frame(spark, [], ddl)  # JVM-local, see localrel.py
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
