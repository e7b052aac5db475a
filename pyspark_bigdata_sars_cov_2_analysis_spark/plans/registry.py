"""Registry wiring query implementations to their DuckDB oracle SQL.

Contract (driver, see ``__spark_entry__.py``): every registered query is a
callable ``(spark, sf_dir) -> DataFrame``; ``oracle`` is equivalent ANSI SQL
DuckDB runs against the same parquet files (views pre-registered with the
table names). Column names must match exactly — the driver sorts columns by
name and hash-compares values.

Conventions that make the hashes match (SURVEY.md §7.3 "hard parts"):
- timestamps/dates are returned as ``yyyy-MM-dd[ HH:mm:ss]`` strings;
- floating aggregates are ``round``-ed (2-6 dp depending on magnitude);
- integer-ish computed columns are cast to BIGINT on both sides;
- every ``limit`` is preceded by a total order with a unique tiebreaker.
"""

from __future__ import annotations

import atexit
import os
import shutil
import stat
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from pyspark_bigdata_sars_cov_2_analysis_spark.functions.compat import (  # noqa: F401
    pround,
    pyround,
    sql_round,
)
from pyspark_bigdata_sars_cov_2_analysis_spark.io import fs as _fs

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a query; ``oracle=None`` → driver does a rows-only check
    (reserved for genuinely non-SQL-expressible ops)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# Caller-owned lifetime for the plan-level caches (ADVICE r9 / VERDICT
# r10 #5b): several queries cache small text-free frames that MULTIPLE
# consumers read (the curation score frame, o11's tokenized mixture
# frame, d24's signature frame, s05's embeddings) — correct for the
# bench/attestation harnesses, which clearCache() between runs, but a
# resident service embedding these plans needs a narrower release than
# nuking the whole session cache. Every such cache registers here;
# ``release_plan_caches()`` unpersists exactly them and nothing else.
#
# Concurrency contract (ADVICE r11): the list is guarded by a lock so
# concurrent requests can't corrupt it, but release is still
# WHOLE-REGISTRY — a release issued while another request is mid-action
# unpersists that request's caches too (harmless for correctness, the
# frames re-materialize lazily, but it wastes their work). A resident
# service should therefore serialize release points: call
# release_plan_caches() only at request boundaries when no other plan
# is executing (the "never mid-action" note in SKILL.md).
import threading as _threading

_TRACKED_CACHES: list[DataFrame] = []
_TRACKED_LOCK = _threading.Lock()


def tracked_cache(df: DataFrame) -> DataFrame:
    """``df.cache()`` + registration for :func:`release_plan_caches`."""
    df.cache()
    with _TRACKED_LOCK:
        _TRACKED_CACHES.append(df)
    return df


def release_plan_caches() -> int:
    """Unpersist every frame the plan layer cached via
    :func:`tracked_cache`; returns how many were released. Safe to call
    at any time — consumers re-materialize lazily if re-run. See the
    concurrency contract above: call at request boundaries, never while
    another request's plan is mid-action."""
    with _TRACKED_LOCK:
        drained = list(_TRACKED_CACHES)
        _TRACKED_CACHES.clear()
    n = 0
    for df in drained:
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass  # session already stopped — nothing left to pin
    return n


# Construction-time work (the queries that publish tables, run ingest
# loops or drain streams while they are built) writes under ONE
# process-wide scratch root. A returned frame may read its query's dir
# lazily, and perfbench collects each query's last frame after the
# per-query release_plan_caches(), so a dir lives until the process
# exits: neither a release nor a rebuild of the query removes it. The
# root is made on first use, so TMPDIR at that moment decides where it
# goes.
_SCRATCH_ROOT: str | None = None
_SCRATCH_LOCK = _threading.Lock()
_DRAIN_TIMEOUT_S = 300


def _remove_scratch_root(root: str, pid: int) -> None:
    # a forked child inherits the atexit hook but not the ownership
    if os.getpid() == pid:
        shutil.rmtree(root, ignore_errors=True)


def scratch_dir(query: str) -> str:
    """A fresh directory for one build of ``query``, under the process's
    scratch root; the root and everything in it are removed when the
    process that made it exits."""
    global _SCRATCH_ROOT
    with _SCRATCH_LOCK:
        if _SCRATCH_ROOT is None:
            _SCRATCH_ROOT = tempfile.mkdtemp(prefix="spark_graft_")
            atexit.register(_remove_scratch_root, _SCRATCH_ROOT, os.getpid())
        root = _SCRATCH_ROOT
    return tempfile.mkdtemp(prefix=f"{query}_", dir=root)


def drain(writer, query: str) -> None:
    """Run the ``DataStreamWriter`` as an availableNow query and wait for
    it to finish. A failed stream raises from ``awaitTermination``; one
    still running after ``_DRAIN_TIMEOUT_S`` is stopped and raises a
    ``TimeoutError`` naming ``query``, so no build reads a partly
    drained sink."""
    q = writer.trigger(availableNow=True).start()
    if not q.awaitTermination(_DRAIN_TIMEOUT_S):
        q.stop()
        raise TimeoutError(
            f"{query}: availableNow drain still running after "
            f"{_DRAIN_TIMEOUT_S} s"
        )


def write_ordered_files(src: str, frames: list[DataFrame]) -> None:
    """Append each frame to the parquet directory ``src`` as one file, the
    i-th stamped with mtime ``1_700_000_000 + 100 * i``: a file stream
    source orders files by modification time, so it reads them in list
    order. Explicit mtimes, not a sleep, which can tie on a filesystem
    with 1 s mtime granularity."""
    seen: set[str] = set()
    for i, frame in enumerate(frames):
        frame.coalesce(1).write.mode("append").parquet(src)
        t = 1_700_000_000 + 100 * i
        new = set(os.listdir(src)) - seen
        for n in new:
            os.utime(os.path.join(src, n), (t, t))
        seen |= new


# Schema cache for table() (PAPERS.md: Running Presto at Scale — serve
# repeated reads from cached file metadata): spark.read.parquet(path) runs
# one schema-inference Spark job per call: 95-130 ms against 20-25 ms for
# the same read with its schema supplied (local[1], one CPU of a 4-core
# KVM host, sf0.001 lineitem/orders). The cached value is Spark's own
# inferred StructType, field metadata included, so every plan is exactly
# what inference would have built. The key holds everything inference
# depends on — the input's file sizes and mtimes and the session confs
# that change parquet type mapping — so a rewritten input or a flipped
# conf infers again. One entry per (path, confs): a rewrite replaces its
# entry rather than adding one.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
)
_SCHEMAS: dict[tuple, tuple[tuple, StructType]] = {}
_SCHEMAS_LOCK = _threading.Lock()


def _input_identity(path: str) -> tuple[str, tuple] | None:
    """``(absolute path, identity)`` of a local parquet input: the size
    and mtime of a file, or the relative name, size and mtime of every
    file under a directory. None when the input is not on the local file
    system or cannot be stat'ed — such reads infer every time (and a
    missing path fails in Spark with Spark's own error)."""
    try:
        if _fs.for_path(path) is not _fs.LOCAL:
            return None
        local = _fs.LOCAL.absolute(_fs.LOCAL.resolve(path))
        st = os.stat(local)
        if not stat.S_ISDIR(st.st_mode):
            return local, (st.st_size, st.st_mtime_ns)
        files = []
        for root, _dirs, names in os.walk(local):
            for n in names:
                f = os.path.join(root, n)
                fst = os.stat(f)
                files.append((os.path.relpath(f, local), fst.st_size, fst.st_mtime_ns))
        return local, tuple(sorted(files))
    except (NotImplementedError, ValueError, OSError):
        return None


def _parquet_schema(spark: SparkSession, path: str) -> StructType:
    """Spark's inferred schema of the parquet input at ``path``, inferred
    once per (input identity, inference confs) — see ``_SCHEMAS``."""
    ident = _input_identity(path)
    if ident is None:
        return spark.read.parquet(path).schema
    local, identity = ident
    key = (local, tuple(spark.conf.get(k) for k in _INFERENCE_CONFS))
    with _SCHEMAS_LOCK:
        hit = _SCHEMAS.get(key)
    if hit is not None and hit[0] == identity:
        return hit[1]
    schema = spark.read.parquet(path).schema
    with _SCHEMAS_LOCK:
        _SCHEMAS[key] = (identity, schema)
    return schema


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one synthetic table (TESTDATA.md).

    The read carries its schema explicitly: Spark's inferred schema,
    resolved once per input and cached (``_parquet_schema``), so building
    a query runs no schema-inference Spark job after the first read of
    each table.

    ``events.ts`` may be parquet TIMESTAMP(NANOS), which Spark's vectorized
    reader rejects; with ``spark.sql.legacy.parquet.nanosAsLong`` it lands
    as a bigint of nanos and we rebuild the timestamp by integer floor-div
    to micros — the same truncation DuckDB applies reading ns into its
    µs-precision TIMESTAMP, so both engines see identical values.

    The session timezone is pinned to UTC here (not only in
    ``start_session``) so that under the driver's vanilla SparkSession
    date_format/window/year over timestamps match DuckDB's naive reads
    regardless of the host TZ.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Spark 4 defaults spark.sql.parquet.inferTimestampNTZ.enabled=true, so a
    # parquet timestamp[us] without tz lands as TIMESTAMP_NTZ — which
    # unix_micros()/window() callers reject. With the session tz pinned UTC
    # the instant interpretation is identical either way (and matches
    # DuckDB's naive read), so pin inference off for a plain TIMESTAMP.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    path = f"{sf_dir}/{name}.parquet"
    schema = _parquet_schema(spark, path)
    df = spark.read.schema(schema).parquet(path)
    if name == "events":
        ts_type = next(
            (f.dataType.simpleString() for f in schema if f.name == "ts"), None
        )
        from pyspark.sql import functions as F

        if ts_type == "bigint":
            # integer DIV, not double division — nanos ~1.7e18 exceed
            # double's 53-bit exact range, so float division drifts by
            # microseconds
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        elif ts_type == "timestamp_ntz":
            # belt-and-braces: if the conf pin above didn't take (e.g. a
            # reader cached before this call), the cast under the UTC pin is
            # value-preserving
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df
