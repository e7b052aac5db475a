"""Deduplication operators for training-data pipelines (LLM-data surface).

Four text families (embedding near-dup lives in :mod:`.similarity`), all
DataFrame compositions (no Python UDFs, no driver collects) sized for
100 TB:

- exact: md5-fingerprint groupBy — the shuffle key is a 16-byte hash, never
  the document text itself;
- MinHash + LSH: shingle → per-seed min-hash → band → bucket-grouped
  row-local pair expansion; the only quadratic work happens inside a
  bucket, and the signature pipeline executes once (no self-join);
- SimHash: per-token 32-bit hashes, bit-majority vote → one signature per
  doc; near-dup pairs via byte-band candidates + exact
  ``bit_count(xor)`` Hamming verify;
- n-gram Jaccard and containment: exact set similarity over pairs
  sharing ≥1 shingle (inverted-index join, one co-occurrence count
  aggregate).

Plus the two dedup-adjacent corpus-hygiene ops: benchmark decontamination
(``contamination_hits`` — train×eval shingle collision, fan-out-free) and
quality-argmax dup resolution (``dedup_keep_best``).

Hashing is md5-based everywhere — deterministic, seed-stable, and
reproducible in any engine (this is what the DuckDB oracles rely on).
"""

from __future__ import annotations

import functools
import time
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pyspark_bigdata_sars_cov_2_analysis_spark.functions.compat import pround
from pyspark_bigdata_sars_cov_2_analysis_spark.functions.localrel import (
    local_frame,
)
from pyspark_bigdata_sars_cov_2_analysis_spark.io import fs as _fs
from pyspark_bigdata_sars_cov_2_analysis_spark.io import writers as _writers
from pyspark_bigdata_sars_cov_2_analysis_spark.operators.relational import spread_compute


def _normalize(col: Column) -> Column:
    return F.regexp_replace(F.trim(F.lower(col)), r"\s+", " ")


def exact_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup groups: one row per distinct normalized text with the
    canonical (minimum) id and the group size. Groups on the md5 of the
    text so the shuffle moves 32-byte keys, not documents."""
    fp = F.md5(_normalize(F.col(text_col))).alias("fp")
    return (
        df.select(fp, F.col(id_col))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("keeper"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def shingle_array(col: Column, k: int = 3) -> Column:
    """Word k-shingles of a text column as a per-row array (row-local; no
    explode). Documents shorter than k tokens yield an empty array.

    The token array is BOUND ONCE per row by making it the argument of a
    single-element ``transform`` and building the shingles inside the
    lambda from the lambda VARIABLE (optimization r15, guide §1.2 "per-
    task work"). A higher-order function evaluates its argument once per
    row but re-evaluates free subexpressions in the lambda body on
    EVERY element — the previous form had ``toks`` (regexp normalize +
    split over the full text) free inside the per-shingle lambda, so a
    300-token document re-ran the regexp ~300 times. Interpreted HOFs
    get no codegen subexpression elimination, and CollapseProject can't
    help inside one Column. MEASURED on the sf0.1 corpus (noop sink,
    explode of the array): k=2 4.56s -> 0.53s, k=3 4.94s -> 0.51s (~9x);
    result arrays verified identical at k=2/3/5 including null/short
    texts."""
    toks = F.split(_normalize(col), " ")

    def shingles(t: Column) -> Column:
        idx = F.sequence(F.lit(1), F.size(t) - (k - 1))
        sh = F.transform(idx, lambda i: F.array_join(F.slice(t, i, k), " "))
        # sequence(1, n<1) counts DOWN, so guard short documents explicitly
        return F.when(F.size(t) >= k, sh).otherwise(
            F.array().cast("array<string>")
        )

    return F.element_at(F.transform(F.array(toks), shingles), 1)


def word_shingles(
    df: DataFrame, id_col: str, text_col: str, k: int = 3, distinct: bool = True
) -> DataFrame:
    """Word k-shingles per document → (id, shingle) exploded. Documents
    shorter than k tokens produce no rows. The scan is spread to full
    parallelism first — shingling is the CPU-heavy step.

    ``distinct=False`` skips array_distinct, which is interpreted and
    O(n²) per array — MEASURED as ~4× the cost of the whole MinHash
    pipeline at 50k docs. Set-semantics consumers (Jaccard counts) need
    it; idempotent-aggregate consumers (min-hash) must not pay for it."""
    sh = shingle_array(F.col(text_col), k)
    if distinct:
        sh = F.array_distinct(sh)
    # hash-spread on the doc id (not round-robin): skips the
    # sort-before-repartition of the text rows and lets the MinHash
    # signature aggregate's groupBy(id) reuse this exchange outright
    # (spread_compute key rationale; plan-verified: the signature
    # pipeline's id Exchange disappears)
    return spread_compute(df, key=id_col).select(
        F.col(id_col), F.explode(sh).alias("shingle")
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    num_hashes: int = 12,
) -> DataFrame:
    """One row per document with columns ``mh_0..mh_{n-1}`` — the MinHash
    signature as ``num_hashes`` bigints.

    Hash family: seed ``j`` is the 8-hex-char chunk ``j % 4`` of
    ``md5(shingle || '#' || (j // 4))`` parsed as an unsigned 32-bit int,
    so 12 seeds cost only 3 md5 evaluations per shingle; fixed-width hex
    parses order-preservingly, and every engine agrees on integer min.
    Documents shorter than ``k`` tokens drop out.

    Scale shape: explode → aggregate, not per-row array transforms —
    Aggregate is a pipeline breaker, so shingling runs exactly once per
    document and each md5 exactly once per shingle (higher-order array
    functions are interpreted, and projection collapse would re-evaluate
    the chain once per signature column). The min buffers are primitive
    longs, so the agg plans as HashAggregate with map-side partials
    reducing each partition to one row per doc before the only shuffle."""
    if num_hashes % 4:
        raise ValueError("num_hashes must be a multiple of 4")
    groups = num_hashes // 4
    # min() is duplicate-insensitive — skip the O(n²) array_distinct
    sh = word_shingles(df, id_col, text_col, k, distinct=False)
    hashed = sh.select(
        F.col(id_col),
        *[
            F.md5(F.concat_ws("#", "shingle", F.lit(str(g)))).alias(f"hg_{g}")
            for g in range(groups)
        ],
    )
    return hashed.groupBy(id_col).agg(
        *[
            F.min(
                F.conv(
                    F.substring(F.col(f"hg_{j // 4}"), 8 * (j % 4) + 1, 8), 16, 10
                ).cast("bigint")
            ).alias(f"mh_{j}")
            for j in range(num_hashes)
        ]
    )


# Persisted band_sig encoding version (optimization r16, VERDICT r15 #8):
# 'bin32-v2' = each min-hash (u32 by the in-repo hash family) as its
# 4-byte big-endian image, concatenated (fixed-width ⇒ injective). Pre-r16 checkpoints
# ('csv-v1', comma-joined decimals — implicit when the recorded params
# lack the field) are refused with a re-seed instruction by
# _CheckpointKind.validate: signatures from the two encodings can never
# band-match, in either direction.
_SIG_ENCODING = "bin32-v2"


def lsh_bands(
    signatures: DataFrame,
    id_col: str,
    num_hashes: int = 12,
    band_rows: int = 3,
) -> DataFrame:
    """(id, band, band_sig): concatenate each ``band_rows`` consecutive
    min-hashes into a band signature and unpivot — ``num_hashes/band_rows``
    small rows per document are all that ever reaches a shuffle. When
    ``band_rows`` does not divide ``num_hashes`` the trailing
    ``num_hashes % band_rows`` hashes form a narrower remainder band
    (review r14, the simhash_band_layout rule applied here): without it
    those hashes were computed and paid for in the signature aggregate
    but belonged to no band — pairs agreeing only there were never
    candidates, a silent recall loss.

    ``band_sig`` encoding (optimization r16, VERDICT r15 #8 / guide
    §2.3 "narrower types"): fixed-width BINARY — each min-hash as its
    4-byte big-endian image, concatenated — instead of the comma-joined
    decimal string (~27 B measured for 3 hashes at sf0.1). 12 B per sig
    through the hottest dedup shuffle key (groupBy(band, band_sig) in
    every LSH family member) and through the persisted band-checkpoint
    state. 4 bytes suffice BY CONSTRUCTION of the in-repo hash family:
    :func:`minhash_signatures` parses 8 hex chars, so every mh value is
    an unsigned 32-bit int — that precondition is part of this
    function's contract (it already shares the family's seed layout).
    The encoding is INJECTIVE (fixed width ⇒ concatenation decodes
    uniquely), so sig equality ≡ min-hash tuple equality — unlike the
    8-byte lossy hash considered and REJECTED in OPTIMIZATION_r16.md: a
    hash collision would merge two different buckets and alter
    candidate pairs at scale, a silent semantics change no test scale
    would catch. Sig comparisons only ever happen within one band, so
    the remainder band's narrower width is immaterial. Persisted
    checkpoints record the encoding in their manifest ``params``
    (``sig_encoding``) and refuse a mismatched reuse — see
    write_band_checkpoint."""
    n_bands = num_hashes // band_rows
    slices = [
        range(b * band_rows, (b + 1) * band_rows) for b in range(n_bands)
    ]
    if num_hashes % band_rows:
        slices.append(range(n_bands * band_rows, num_hashes))

    def _be4(name: str) -> Column:
        # u32 bigint -> 4-byte big-endian binary: hex() of a value in
        # [0, 2^32) is at most 8 chars, lpad+unhex fixes the width.
        # Outside that range the hex would be truncated into a
        # signature that collides with an in-range one, so the
        # precondition is guarded row-locally (NULL stays NULL, as
        # before). All of it runs inside whole-stage codegen.
        c = F.col(name)
        return F.when(
            (c < 0) | (c > 0xFFFFFFFF),
            F.raise_error(
                F.concat(
                    F.lit(f"lsh_bands: {name} is outside the unsigned "
                          "32-bit range a band signature encodes: "),
                    c.cast("string"),
                )
            ).cast("binary"),
        ).otherwise(F.unhex(F.lpad(F.hex(c), 8, "0")))

    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat(
                    *[_be4(f"mh_{j}") for j in sl]
                ).alias("band_sig"),
            )
            for b, sl in enumerate(slices)
        ]
    )
    return signatures.select(
        F.col(id_col), F.explode(bands).alias("bs")
    ).select(F.col(id_col), F.col("bs.band"), F.col("bs.band_sig"))


def lsh_candidate_pairs(
    banded: DataFrame, id_col: str
) -> DataFrame:
    """Distinct candidate pairs (a < b) of docs sharing a
    (band, band_signature) bucket.

    Shape: groupBy bucket → sorted id list → row-local combination
    expansion — NOT a self-join, which would execute the whole upstream
    signature pipeline twice (once per join side) and is quadratic in the
    bucket via the join anyway. One shuffle on the bucket key; the
    collect_list state is bounded by bucket size (near-dup group), the
    same bound the join shape has."""
    buckets = (
        banded.groupBy("band", "band_sig")
        .agg(F.array_sort(F.collect_list(id_col)).alias("ids"))
        .where(F.size("ids") >= 2)
    )
    pairs = F.flatten(
        F.transform(
            "ids",
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size("ids")),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    return (
        buckets.select(F.explode(pairs).alias("p"))
        .select("p.id_a", "p.id_b")
        .distinct()
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    num_hashes: int = 12,
    band_rows: int = 3,
) -> DataFrame:
    """Full MinHash+LSH near-dup candidate pipeline (signature → bands →
    bucket self-join; one shuffle end-to-end)."""
    sig = minhash_signatures(df, id_col, text_col, k, num_hashes)
    banded = lsh_bands(sig, id_col, num_hashes, band_rows)
    return lsh_candidate_pairs(banded, id_col)


_LEGACY = ("_band_params", "_chunk_params", "_ingest_hwm")


def _latest_checkpoint(path: str) -> dict | None:
    """The checkpoint's newest manifest (None = nothing published yet).
    A checkpoint in the pre-manifest format — parameter sidecar and
    commit-marker files, no ``_snapshots/`` — is refused with the fix."""
    snap = _writers._latest_manifest(path)
    if snap is None:
        f = _fs.for_path(path)
        old = [n for n in _LEGACY if f.exists(f.join(f.resolve(path), n))]
        if old:
            raise ValueError(
                f"checkpoint at {path} is in the pre-manifest format "
                f"({', '.join(old)}, no {_writers._SNAP_DIR}/): re-seed it "
                "from the corpus with mode='overwrite' "
                "(write_band_checkpoint / write_chunk_checkpoint)"
            )
    return snap


def ingest_high_water_mark(path: str) -> int:
    """Highest batch id ever COMMITTED into the checkpoint at ``path``
    (-1 = none yet): the newest manifest's ``src_batch`` — one readdir
    and one JSON read."""
    snap = _latest_checkpoint(path)
    return -1 if snap is None else int(snap["src_batch"])


def _batch_fingerprint(batch_df: DataFrame, id_col: str, text_col: str) -> str:
    """A checkpoint batch's content fingerprint: the snapshot layer's
    (``io.writers._content_fingerprint``) over ``(id, text)``, one
    aggregate job. It covers the text as well as the ids, so a restarted
    stream whose sequential ids reproduce a committed id range with
    other documents gets another fingerprint. Changing its definition
    makes every equal-id replay across the change look like other
    content: change it only at a clean batch boundary."""
    return _writers._content_fingerprint(batch_df.select(id_col, text_col))


def _lh_bucket(col: Column, n_buckets: int) -> Column:
    """Stable bucket id in [0, n_buckets) for a chunk-hash (hex md5
    string) or band-sig (binary) column — the partition key of a
    bucketed checkpoint. xxhash64 accepts both types; pmod folds the
    signed hash non-negative."""
    return F.pmod(F.xxhash64(col), F.lit(int(n_buckets)))


# how checkpoints stage a publish: ``v=`` directories (one partition
# structure across publishes, see _CheckpointKind) and no file for no rows
_STAGE = {"prefix": "v=", "keep_one": False}


@dataclass(frozen=True)
class _CheckpointKind:
    """One kind of incremental-dedup checkpoint: LSH band state
    (``_BANDS``, d11/d20/d22) or chunk first-occurrence state
    (``_CHUNKS``, d14/d19). The fields hold everything the kinds differ
    in; the methods are the one implementation both run.

    On disk a checkpoint at ``path`` is a manifest-committed table, the
    snapshot layer's protocol (``io/writers.py``):

    - ``_snapshots/v<N>.json``, version N's manifest, claimed once with
      the filesystem seam's ``put_if_absent``. Besides the snapshot
      fields (``files``, ``rows``, ``mode``, ``schema``) it records
      ``params`` (the caller parameters the state was computed under,
      the grid and the key encoding where the kind has one: state
      computed under other parameters can never match), ``src_batch``
      (the newest committed batch id, -1 = none) and ``fingerprint``
      (that batch's content fingerprint);
    - ``data/v=<N>-<uuid8>/``, one fresh directory per publish, Hive
      partitioned ``lead + (bucket,)`` with ``bucket =
      pmod(xxhash64(key), grid)`` (grid 0: ``lead`` only). The ``v=``
      form keeps every directory one partition structure, so one scan
      with the data root as ``basePath`` reads many publishes.

    The manifest publish is the one commit record: a writer that
    crashes before it leaves only files no manifest names, which no
    reader sees and vacuum reclaims. ``want`` is always the dict of the
    caller's parameters, in ``params`` order."""

    name: str  # "band" / "chunk": messages and the public writer names
    key: str  # the column the grid hashes
    bucket: str  # the grid's partition column
    grid: str  # the grid's name in params and the writer
    lead: tuple[str, ...]  # partition columns ahead of the bucket
    default_grid: int  # a fresh write's grid when the caller passes None
    mismatch: str  # what a parameter mismatch would break
    encoding: str | None  # key encoding pinned in params, if any
    key_rows: Callable  # (df, id_col, text_col, want) -> per-row keys
    state_rows: Callable  # (key_rows, id_col) -> rows to persist
    columns: Callable  # id_col -> reader columns
    # (batch_df, key_rows, prior, id_col, text_col, want) -> (output,
    # state rows to append, a frame it cached for the batch)
    core: Callable

    @property
    def what(self) -> str:
        return f"{self.name} checkpoint"

    def latest(self, path: str) -> dict:
        snap = _latest_checkpoint(path)
        if snap is None:
            raise FileNotFoundError(
                f"no {self.what} at {path}: seed it with "
                f"write_{self.name}_checkpoint(mode='overwrite')"
            )
        return snap

    def validate(self, path: str, params: dict, want: dict) -> None:
        """Raise unless the caller's parameters and this engine's key
        encoding match the recorded ``params`` — one check for the
        reader and the append path. A checkpoint persisted under an
        older encoding (``csv-v1``, comma-joined decimal band_sig,
        implicit when the field is missing) can never match what this
        code computes, in either direction."""
        stored = {f: params[f] for f in want}
        if stored != want:
            raise ValueError(
                f"{self.what} at {path} was written with {stored}, "
                f"caller expects {want}: {self.mismatch}"
            )
        enc = params.get("sig_encoding") or "csv-v1"
        if self.encoding and enc != self.encoding:
            raise ValueError(
                f"{self.what} at {path} stores {self.key} as {enc!r}, "
                f"this engine computes {self.encoding!r}: cross-side keys "
                "would never match and every batch would silently dedupe "
                "against nothing. Migrate by re-seeding the checkpoint "
                f"(write_{self.name}_checkpoint(mode='overwrite') from the "
                "corpus) at a clean batch boundary."
            )

    def _scan(self, spark, path: str, snap: dict, files: list) -> DataFrame:
        """``files`` of the manifest ``snap`` as one frame of its
        recorded columns, grid columns included. The schema comes from
        the manifest and the ``basePath`` from the layout, so planning
        runs no Spark job; the ``v`` column the version directories add
        is dropped."""
        cols = [c for c, _t in snap["schema"]]
        ddl = _writers._schema_ddl(snap["schema"])
        if not files:
            return local_frame(spark, [], ddl)
        f = _fs.for_path(path)
        return (
            spark.read.option(
                "basePath", f.absolute(f.join(f.resolve(path), "data"))
            )
            .schema(ddl)
            .parquet(*files)
            .select(*cols)
        )

    def read(
        self, spark, path: str, id_col: str, want: dict,
        buckets: list[int] | None = None, snap: dict | None = None,
    ) -> DataFrame:
        """The state as ``columns(id_col)``, from the newest manifest
        (or ``snap``, one the caller already read) after validating
        ``want`` against its ``params``. ``buckets`` restricts a
        bucketed checkpoint's scan to those grid cells: only files under
        a ``<bucket>=<b>`` directory reach the scan, so the other cells'
        files are never opened (ignored on a flat layout)."""
        if snap is None:
            snap = self.latest(path)
        self.validate(path, snap["params"], want)
        files = snap["files"]
        if snap["params"][self.grid] and buckets is not None:
            cells = {f"{self.bucket}={int(b)}" for b in buckets}
            files = [p for p in files if p.split("/")[-2] in cells]
        return self._scan(spark, path, snap, files).select(
            *self.columns(id_col)
        )

    def _layout(self, rows: DataFrame, n_grid: int):
        """State ``rows`` laid out on the grid, and the partition columns
        to stage them under: clustered so each cell gets one file per
        write (one file in all on a flat layout without ``lead``) rather
        than one per (task, cell)."""
        cols = [*self.lead, self.bucket] if n_grid else list(self.lead)
        if n_grid:
            rows = rows.withColumn(
                self.bucket, _lh_bucket(F.col(self.key), n_grid)
            )
        return (rows.repartition(*cols) if cols else rows.coalesce(1)), cols

    def _commit(
        self, path: str, rows: DataFrame, mode: str, params: dict,
        batch_id: int, fingerprint: str | None,
    ) -> None:
        """Publish state ``rows`` as the checkpoint's next version: the
        whole state on an overwrite (a seed), the newest version's files
        plus these on an append. ``batch_id`` >= 0 records that batch as
        the newest committed one with its ``fingerprint``; -1 carries
        the newest version's forward (a seed resets them). A lost
        publish race re-reads the newest manifest and publishes over it
        after the batch-commit rule (:func:`io.writers._admit_batch`)
        admits the batch against it again: a racing replay that won
        makes ours unreferenced files, a racing collision raises."""
        snap = _writers._latest_manifest(path)
        frame, cols = self._layout(rows, params[self.grid])
        staged = _writers._stage(
            frame, path, (snap["version"] + 1) if snap else 1, cols, **_STAGE
        )
        while True:
            snap = _writers._latest_manifest(path)
            base = {
                "files": [], "rows": 0, "src_batch": -1, "fingerprint": None,
            }
            if mode == "append" and snap is not None:
                if snap["params"] != params:
                    raise ValueError(
                        f"{self.what} at {path} was re-seeded with "
                        f"{snap['params']} while this write ran"
                    )
                if batch_id >= 0 and not _writers._admit_batch(
                    path, snap, batch_id, lambda: fingerprint, self.what
                ):
                    return
                base = snap
            version = (snap["version"] + 1) if snap else 1
            payload = {
                "version": version, "mode": mode,
                "files": base["files"] + staged.files,
                "rows": base["rows"] + staged.rows,
                "schema": staged.schema, "published_utc": time.time(),
                "params": params,
                "src_batch": batch_id if batch_id >= 0 else base["src_batch"],
                "fingerprint": (
                    fingerprint if batch_id >= 0 else base["fingerprint"]
                ),
            }
            if _writers._link_manifest(path, version, payload):
                return

    def write(
        self, corpus_df: DataFrame, path: str, id_col: str, text_col: str,
        want: dict, mode: str, batch_id: int | None, n_grid: int | None,
    ) -> None:
        """Seed (``mode='overwrite'``) or extend (``'append'``) the
        checkpoint at ``path`` with ``corpus_df``'s state rows.

        Batch ids: a seed commits no batch and resets the mark to -1,
        so it refuses any id but -1; an append needs an explicit id. An
        append with an id >= 0 commits that batch under the batch-commit
        rule (:func:`io.writers._admit_batch`), so replaying the newest
        committed batch with the same content is a no-op; -1 extends the
        state without committing a batch (a clean-boundary seed
        extension).

        Parameters: an append VALIDATES the recorded ``params`` and
        carries them forward, never relabelling old rows with the
        caller's. An append onto an empty path is a fresh write; a seed
        over a directory without manifests (a pre-manifest checkpoint,
        say) replaces it, as Spark's overwrite did.

        Grid: ``n_grid=None`` adopts the recorded grid
        on an append (so flat or differently-sized checkpoints keep
        working with defaults) and ``default_grid`` on a fresh write; an
        explicit int asserts the grid. Size it to the state: every cell
        is a partition directory with a fixed per-write commit cost
        (~35 ms/dir measured on local FS), so aim for file-sized cells."""
        if mode not in ("overwrite", "append"):
            raise ValueError(
                f"{self.what} mode must be 'overwrite' (seed) or 'append' "
                f"(ingest), got {mode!r}"
            )
        if batch_id is None and mode == "append":
            raise ValueError(
                f"appending to a {self.what} requires an explicit batch_id:"
                " the writing batch's id (>= 0), or -1 for a clean-boundary"
                " seed extension (no crashed in-flight batch)"
            )
        batch_id = -1 if batch_id is None else int(batch_id)
        if mode == "overwrite" and batch_id != -1:
            raise ValueError(
                f"a {self.what} seed (mode='overwrite') commits no batch, "
                f"got batch_id={batch_id}: seed without one and append a "
                "batch's rows with mode='append' and its id"
            )
        snap = None
        if mode == "append":
            snap = _latest_checkpoint(path)
        elif _writers._latest_manifest(path) is None:
            f = _fs.for_path(path)
            f.remove_tree(f.resolve(path))
        if snap is not None:
            self.validate(path, snap["params"], want)
            recorded = snap["params"][self.grid]
            if n_grid is not None and n_grid != recorded:
                raise ValueError(
                    f"{self.what} at {path} is bucketed with "
                    f"{self.grid}={recorded}, caller expects {n_grid}: "
                    "appended rows would land outside the probe's "
                    "partition grid"
                )
            params = snap["params"]
        else:
            params = {
                **want,
                self.grid: self.default_grid if n_grid is None else n_grid,
            }
            if self.encoding:
                params["sig_encoding"] = self.encoding
        fingerprint = None
        if batch_id >= 0:
            fp = functools.cache(
                lambda: _batch_fingerprint(corpus_df, id_col, text_col)
            )
            if not _writers._admit_batch(path, snap, batch_id, fp, self.what):
                return
            fingerprint = fp()
        rows = self.state_rows(
            self.key_rows(corpus_df, id_col, text_col, want), id_col
        )
        self._commit(path, rows, mode, params, batch_id, fingerprint)

    def ingest(
        self, batch_df: DataFrame, batch_id: int, path: str, out_path: str,
        id_col: str, text_col: str, want: dict,
    ) -> bool:
        """One micro-batch of the streaming dedup ingest, REPLAY-SAFE:
        dedup ``batch_df`` against the checkpoint, publish the output,
        commit the batch's own state rows; True when the batch
        published, False when it replayed the committed one.

        Batch ids follow the one batch-commit rule of every streamed
        table (:func:`io.writers._admit_batch`): an id above the
        checkpoint's mark publishes, an id below it raises, and the
        mark's own id is a no-op replay only with the committed content
        fingerprint (:func:`_batch_fingerprint`, an aggregate job the
        manifest records) and raises otherwise.

        Output: lands in an ``ingest_batch=<id>`` partition via DYNAMIC
        partition overwrite, so the replay of a crashed batch rewrites
        its own partition instead of appending a second copy. State: the
        batch's rows go to a fresh directory and one manifest publish
        commits them, so the probe only ever sees committed state and a
        crash before the publish leaves nothing a reader sees. A batch
        that adds no state rows still publishes, to record its commit.
        An id re-delivered in a LATER batch meets its earlier state and
        is dropped as the duplicate it is.

        The steps: guard; cache the batch's key frame (it feeds the
        bucket probe, the core and the state write, and a re-derivation
        per consumer was the bulk of d20's cost); collect its grid cells
        (a driver list bounded by the grid) and read only those cells;
        hand over to ``core``; write the output; write and publish the
        state. Everything after the cache sits in the ``try``, so a
        raise never pins the batch frame in a long-lived session."""
        bid = int(batch_id)
        snap = self.latest(path)
        fingerprint = functools.cache(
            lambda: _batch_fingerprint(batch_df, id_col, text_col)
        )
        if not _writers._admit_batch(path, snap, bid, fingerprint, self.what):
            return False
        keys = self.key_rows(batch_df, id_col, text_col, want).cache()
        held = [keys]
        try:
            n_grid = snap["params"][self.grid]
            buckets = None
            if n_grid:
                cells = keys.select(_lh_bucket(F.col(self.key), n_grid))
                buckets = sorted(r[0] for r in cells.distinct().collect())
            prior = self.read(batch_df.sparkSession, path, id_col, want,
                              buckets, snap)
            out, add, cached = self.core(
                batch_df, keys, prior, id_col, text_col, want
            )
            held.append(cached)
            (
                out.withColumn("ingest_batch", F.lit(bid))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("ingest_batch")
                .parquet(out_path)
            )
            self._commit(
                path, add, "append", snap["params"], bid, fingerprint()
            )
        finally:
            for frame in held:
                frame.unpersist()
        return True

    def stream(
        self, spark, source_dir: str, schema: str, path: str, out_path: str,
        stream_checkpoint: str, id_col: str, text_col: str, want: dict,
        max_files_per_trigger: int, compact_every: int,
    ):
        """The streaming ingest: :func:`io.writers._drive_batches` (the
        one ``foreachBatch`` driver of every streamed table) over the
        parquet files of ``source_dir``, running :meth:`ingest` per
        micro-batch under the batch-commit rule it states (an id above
        the mark publishes, below it raises, the mark's own id replays
        only with the committed content); returns the
        ``DataStreamWriter`` (callers ``.start()`` it). The stream
        checkpoint makes a restart re-process nothing. The checkpoint
        must already be seeded (that pins the parameters every batch
        must use); it is validated before any batch runs.

        ``compact_every``: :meth:`compact` on the driver's durable
        cadence — after a publish that brings the publishes since the
        newest ``compact`` manifest to N — so per-cell file counts stay
        O(N); a replayed batch never compacts; 0 disables it."""
        self.read(spark, path, id_col, want)
        return _writers._drive_batches(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(source_dir),
            path, stream_checkpoint,
            lambda batch_df, batch_id: self.ingest(
                batch_df, batch_id, path, out_path, id_col, text_col, want
            ),
            lambda: self.compact(spark, path),
            compact_every,
        )

    def compact(self, spark, path: str) -> dict:
        """Rewrite the newest version to ONE file per grid cell (VERDICT
        r9 #2): each ingest batch adds one file per touched cell, and
        after N batches the pruned probe degrades into a small-files
        scan. The rewrite publishes through the snapshot layer's one
        read-modify-write loop (:func:`io.writers._rmw_publish_snapshot`:
        staged in a fresh directory, count-verified from the footers,
        retried against the new version on a lost publish race) as a
        ``compact`` manifest that carries ``params``, ``src_batch`` and
        ``fingerprint`` forward; then older versions are vacuumed
        (``keep=1``). A batch in flight is invisible to the rewrite and
        publishes over it afterwards. Idempotent; returns ``{rows,
        files_before, files_after, hwm}``."""
        self.latest(path)  # refuses an unseeded or pre-manifest path

        def rewrite(snap):
            rows = self._scan(spark, path, snap, snap["files"])
            frame, cols = self._layout(
                rows.drop(self.bucket), snap["params"][self.grid]
            )
            return frame, snap["rows"], cols, {**snap, "mode": "compact"}

        snap, payload, _retries = _writers._rmw_publish_snapshot(
            path, rewrite, **_STAGE
        )
        _writers.vacuum_parquet_snapshots(path, keep=1)
        return {
            "rows": payload["rows"], "files_before": len(snap["files"]),
            "files_after": len(payload["files"]),
            "hwm": int(snap["src_batch"]),
        }


def _band_keys(df: DataFrame, id_col: str, text_col: str, want: dict):
    return lsh_bands(
        minhash_signatures(df, id_col, text_col, want["k"], want["num_hashes"]),
        id_col, want["num_hashes"], want["band_rows"],
    )


def _band_core(batch_df, bands, prior, id_col, text_col, want):
    """Band ingest: drop every batch doc sharing a band bucket with the
    state; append the survivors' bands (a semi-join on the admitted
    ids, never a re-minhash). A NULL-text doc has no shingles, is never
    a candidate and PASSES THROUGH — unlike chunk ingest."""
    pairs = incremental_neardup_pairs(
        batch_df, None, id_col, text_col, **want,
        corpus_bands=prior, new_bands=bands,
    )
    # the dup id set feeds the output write and the append's semi-join:
    # cached, so the state probe behind it runs once per batch
    dup_ids = pairs.select(F.col("new_id").alias(id_col)).distinct().cache()
    clean = batch_df.join(dup_ids, on=id_col, how="left_anti")
    add = bands.join(F.broadcast(clean.select(id_col)), id_col, "left_semi")
    return clean, add, dup_ids


_BANDS = _CheckpointKind(
    name="band",
    key="band_sig",
    bucket="sigb",
    grid="n_sig_buckets",
    lead=("band",),
    default_grid=16,
    mismatch="signatures would never match",
    encoding=_SIG_ENCODING,
    key_rows=_band_keys,
    state_rows=lambda bands, id_col: bands,
    columns=lambda id_col: [
        F.col(id_col), F.col("band").cast("int").alias("band"), "band_sig",
    ],
    core=_band_core,
)


def write_band_checkpoint(
    corpus_df: DataFrame,
    path: str,
    id_col: str,
    text_col: str,
    k: int = 3,
    num_hashes: int = 12,
    band_rows: int = 3,
    mode: str = "overwrite",
    batch_id: int | None = None,
    n_sig_buckets: int | None = None,
) -> None:
    """Persist a corpus's LSH band frame ``(id, band, band_sig)`` —
    the between-batches dedup state an ingestion
    pipeline keeps, so no batch re-derives bands from the corpus text.
    It is a few tiny rows per document, partitioned by ``band`` and
    ``sigb = pmod(xxhash64(band_sig), n_sig_buckets)`` (default 16; 0 =
    flat per-band layout) so the ingest probe prunes to the signature
    buckets its batch hashes into. ``(k, num_hashes, band_rows)``, the
    grid and the ``band_sig`` encoding ride every manifest. Seed
    with ``mode='overwrite'``; append a batch's own bands with
    ``mode='append'`` and its ``batch_id`` (or -1 to assert a
    clean-boundary seed extension). See :meth:`_CheckpointKind.write`."""
    _BANDS.write(
        corpus_df, path, id_col, text_col,
        dict(k=k, num_hashes=num_hashes, band_rows=band_rows),
        mode, batch_id, n_sig_buckets,
    )


def read_band_params(spark, path: str) -> dict:
    """The band checkpoint's recorded parameters as a dict — ``{k,
    num_hashes, band_rows, n_sig_buckets, sig_encoding}`` from its
    newest manifest."""
    return _BANDS.latest(path)["params"]


def read_band_checkpoint(
    spark,
    path: str,
    id_col: str,
    k: int = 3,
    num_hashes: int = 12,
    band_rows: int = 3,
    sig_buckets: list[int] | None = None,
) -> DataFrame:
    """Load a band checkpoint as ``(id_col, band, band_sig)`` — the
    shape ``incremental_neardup_pairs`` / :func:`ingest_batch_idempotent`
    expect — after validating the caller's banding parameters against
    the recorded ones. ``sig_buckets`` restricts the scan to those
    ``sigb`` cells. See :meth:`_CheckpointKind.read`."""
    return _BANDS.read(
        spark, path, id_col,
        dict(k=k, num_hashes=num_hashes, band_rows=band_rows),
        sig_buckets,
    )


def compact_band_checkpoint(spark, path: str) -> dict:
    """Compact a band checkpoint to one file per ``(band, sigb)`` cell
    (one per ``band`` on a flat layout), keeping the grid, the
    parameters and the high-water mark — see :meth:`_CheckpointKind.compact`. Run it on a
    cadence that keeps per-cell file counts O(1)."""
    return _BANDS.compact(spark, path)


def streaming_neardup_ingest(
    spark,
    source_dir: str,
    schema: str,
    band_path: str,
    out_path: str,
    stream_checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 12,
    band_rows: int = 3,
    max_files_per_trigger: int = 1,
    compact_every: int = 0,
):
    """Streaming form of the d11 band checkpoint (VERDICT r6 #8): each
    micro-batch dedups against the persisted band checkpoint (the
    corpus text is never scanned), publishes its survivors to
    ``out_path`` and appends its own bands, so later batches dedup
    against everything earlier ones admitted. Seed the checkpoint first
    with :func:`write_band_checkpoint`. See :meth:`_CheckpointKind.stream`."""
    return _BANDS.stream(
        spark, source_dir, schema, band_path, out_path, stream_checkpoint,
        id_col, text_col,
        dict(k=k, num_hashes=num_hashes, band_rows=band_rows),
        max_files_per_trigger, compact_every,
    )


def ingest_batch_idempotent(
    batch_df: DataFrame,
    batch_id: int,
    band_path: str,
    out_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 12,
    band_rows: int = 3,
) -> None:
    """One replay-safe micro-batch of the band ingest: drop the batch's
    near-duplicates of the checkpoint, publish the survivors to an
    ``ingest_batch=<id>`` partition, append their bands. A NULL-text
    doc passes through. See :meth:`_CheckpointKind.ingest`."""
    _BANDS.ingest(
        batch_df, batch_id, band_path, out_path, id_col, text_col,
        dict(k=k, num_hashes=num_hashes, band_rows=band_rows),
    )


def incremental_neardup_pairs(
    new_df: DataFrame,
    corpus_df: DataFrame | None,
    id_col: str,
    text_col: str,
    k: int = 3,
    num_hashes: int = 12,
    band_rows: int = 3,
    corpus_bands: DataFrame | None = None,
    new_bands: DataFrame | None = None,
) -> DataFrame:
    """Near-dup candidates of an INCOMING batch against an EXISTING
    corpus — the dedup an ingestion pipeline runs on every new crawl
    slice before appending it. Returns distinct (new_id, corpus_id)
    pairs sharing ≥1 LSH band bucket.

    The corpus side comes from either ``corpus_df`` (raw text — bands are
    recomputed, self-contained form) or ``corpus_bands`` (a persisted
    ``(id, band, band_sig)`` frame from :func:`write_band_checkpoint` —
    the production form: batch N+1 never re-tokenizes or even scans the
    corpus text, plan-shape-tested in tests/test_plan_shape.py).

    Scale shape: the new batch runs the one-shuffle signature→bands
    pipeline, then one union reaches a single bucket-grouped expansion
    that emits ONLY cross-side pairs: the row-local nested transform
    iterates new-members × corpus-members, so intra-corpus pairs — the
    quadratic bulk of an established corpus's buckets, already found by
    prior batches — are never materialized, not even pre-filter. Cost per
    bucket is |new ∩ bucket| · |corpus ∩ bucket|, which a small incoming
    batch keeps near-linear in corpus size."""
    if (corpus_df is None) == (corpus_bands is None):
        raise ValueError("pass exactly one of corpus_df / corpus_bands")
    # ``new_bands``: an already-banded (id, band, band_sig) frame for the
    # NEW side — :func:`ingest_batch_idempotent` bands its batch once and
    # shares the frame between the pruning probe, this expansion, and
    # the checkpoint append, instead of re-minhashing per consumer
    bn = (
        new_bands.select(F.col(id_col), "band", "band_sig")
        if new_bands is not None
        else lsh_bands(
            minhash_signatures(new_df, id_col, text_col, k, num_hashes),
            id_col, num_hashes, band_rows,
        )
    ).withColumn("side", F.lit(1))
    if corpus_bands is None:
        corpus_bands = lsh_bands(
            minhash_signatures(corpus_df, id_col, text_col, k, num_hashes),
            id_col, num_hashes, band_rows,
        )
    bc = corpus_bands.select(F.col(id_col), "band", "band_sig").withColumn(
        "side", F.lit(0)
    )
    buckets = (
        bn.unionByName(bc)
        .groupBy("band", "band_sig")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("side", F.col(id_col).alias("id")))
            ).alias("ms")
        )
    )
    news = F.filter(F.col("ms"), lambda s: s["side"] == 1)
    olds = F.filter(F.col("ms"), lambda s: s["side"] == 0)
    pairs = F.flatten(
        F.transform(
            news,
            lambda n: F.transform(
                olds,
                lambda o: F.struct(
                    n["id"].alias("new_id"), o["id"].alias("corpus_id")
                ),
            ),
        )
    )
    return (
        buckets.where((F.size(news) >= 1) & (F.size(olds) >= 1))
        .select(F.explode(pairs).alias("p"))
        .select("p.new_id", "p.corpus_id")
        .distinct()
    )


def dup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 20,
) -> DataFrame:
    """Connected components over a near-dup pair graph → (doc_id,
    cluster_id), where cluster_id is the MINIMUM doc id in the component —
    the step that turns pairwise dedup output into keep-one-per-cluster
    decisions (keeper = the row where doc_id == cluster_id).

    Algorithm: iterative min-label propagation over the CLOSED
    neighborhood — self-loops are planted in the edge frame, so each
    round is ONE shuffle join + ONE aggregate on (id, label) pairs
    (optimization r15: the open-neighborhood form needed a second
    labels⋈nb_min join per round to mix in the node's own label — at
    scale that was a second full shuffle of the label frame every
    round, and locally a second join stage). Converges in
    O(graph diameter) rounds; near-dup graphs are dense clique-ish
    clusters with tiny diameters (LSH buckets emit all intra-bucket
    pairs), so this beats the O(log n) large-star/small-star alternates
    that exist for long-path graphs. Round 1 is FUSED into the seed:
    initial labels are the ids themselves, so the first round's
    min-over-closed-neighborhood is just min(dst) per src over the
    self-looped edges — a plain aggregate, no join, replacing both the
    old distinct-ids seed pass and the first loop round. Convergence:
    the self-loop row carries each node's own previous label through
    the round's aggregate, so the exact changed-row count is a
    filter+count over the round's tiny checkpointed (id, label, own)
    frame — type-agnostic (ids need not be numeric), no second join,
    and everything else stays distributed.
    """
    # Both directions AND the self-loops are generated ROW-LOCALLY with
    # one explode — four (src, dst) structs per pair row — instead of
    # the old three-way union (optimization r15, guide §1.2/§2.4): the
    # union's branches each embedded the whole upstream pair pipeline
    # (minhash shingle/signature/band/self-join for d07) and no longer
    # canonicalized equal after the keyed-spread change, so the pipeline
    # executed more than twice per edges fill (measured 2.5 s vs 1.1 s
    # for a single pass at sf0.1). One pass, same distinct, same rows:
    # self-loops for BOTH endpoints ride along (dst-side nodes included,
    # exactly what the old sym-of-sym union produced).
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col(id_a).alias("src"), F.col(id_b).alias("dst")
                    ),
                    F.struct(
                        F.col(id_b).alias("src"), F.col(id_a).alias("dst")
                    ),
                    F.struct(
                        F.col(id_a).alias("src"), F.col(id_a).alias("dst")
                    ),
                    F.struct(
                        F.col(id_b).alias("src"), F.col(id_b).alias("dst")
                    ),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .distinct()
        .cache()
    )

    def release_checkpoint(ckpt: DataFrame) -> None:
        # Dataset.unpersist() does NOT free localCheckpoint blocks (they
        # live on the internal LogicalRDD, not in the CacheManager —
        # verified empirically); without this, every round's (id, label)
        # snapshot stays in executor storage until JVM GC. Private-API
        # reach-in, so failure just defers cleanup to the ContextCleaner
        # (the status quo), never breaks the computation.
        try:
            ckpt._jdf.queryExecution().analyzed().rdd().unpersist(False)
        except Exception:
            pass

    # round 1, fused: labels start as the ids, so min over the closed
    # neighborhood is min(dst) within the self-looped edge groups.
    # eager localCheckpoint MATERIALIZES each round's result and
    # truncates its lineage before the predecessor is released — a plain
    # cache().unpersist() sequence here left each round recomputing the
    # full i-deep plan from `edges` (quadratic total work, linearly
    # growing plan). Label frames are (id, label) pairs, so the
    # checkpointed blocks are tiny.
    labels = (
        edges.groupBy("src")
        .agg(F.min("dst").alias("label"))
        .select(F.col("src").alias("id"), "label")
        .localCheckpoint(eager=True)
    )
    converged = False
    prev_ckpt: DataFrame = labels
    for _ in range(max_iterations):
        # the self-loop row (dst == src) carries the node's OWN previous
        # label into its group, so the same aggregate yields both the new
        # label and the old one — the exact per-round change count costs
        # one filter+count on the tiny checkpointed frame, works for any
        # id type, and needs no second labels join
        stepped = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(
                F.min("label").alias("label"),
                F.max(
                    F.when(F.col("dst") == F.col("src"), F.col("label"))
                ).alias("__own"),
            )
            .select(F.col("src").alias("id"), "label", "__own")
            .localCheckpoint(eager=True)
        )
        changed = stepped.where(F.col("label") != F.col("__own")).count()
        labels = stepped.select("id", "label")
        release_checkpoint(prev_ckpt)
        prev_ckpt = stepped
        if changed == 0:
            converged = True
            break
    edges.unpersist()
    if not converged:
        raise RuntimeError(
            f"dup_clusters did not converge within {max_iterations} "
            "iterations (graph diameter exceeds max_iterations); labels "
            "would be silently wrong — raise max_iterations"
        )
    return labels.select(
        F.col("id").alias("doc_id"), F.col("label").alias("cluster_id")
    )


def _shingle_arrays(
    df: DataFrame, id_col: str, text_col: str, k: int
) -> DataFrame:
    """Per-document DISTINCT shingle arrays ``(id, __sh_arr, __n_sh)``,
    computed in ONE spread shingling pass and cached through the
    plan-cache registry (released by ``registry.release_plan_caches()``
    like t09's tf frame / d18's score frame).

    Why (optimization r15, guide §2.4/§5): the co-occurrence plan reads
    the shingles four times (both sides of the inverted-index join and
    both doc-size projections), each branch projects differently, and
    ReuseExchange never canonicalizes them together — without the cache
    every branch re-runs the interpreted ``array_distinct`` shingling.
    Downstream views are a cheap ``explode`` (inverted index) and a
    ``size`` projection (doc sizes — no aggregate at all). The cache is
    ~k× the text bytes and spillable (MEMORY_AND_DISK default)."""
    from pyspark_bigdata_sars_cov_2_analysis_spark.plans.registry import (
        tracked_cache,
    )

    arr = F.array_distinct(shingle_array(F.col(text_col), k))
    # keyed spread (see spread_compute): same shuffle, minus the
    # round-robin determinism sort of the text rows
    return tracked_cache(
        spread_compute(df, key=id_col)
        .select(F.col(id_col), arr.alias("__sh_arr"))
        .withColumn("__n_sh", F.size("__sh_arr").cast("bigint"))
    )


def _exploded_shingles(arrs: DataFrame, id_col: str) -> DataFrame:
    """(id, shingle) inverted-index view of :func:`_shingle_arrays` —
    documents shorter than k tokens (empty arrays) produce no rows,
    exactly like ``word_shingles``."""
    return arrs.select(F.col(id_col), F.explode("__sh_arr").alias("shingle"))


def _cooccurrence_counts(
    arrs: DataFrame, id_col: str
) -> DataFrame:
    """(id_a, id_b, n_inter, n_a, n_b) for every ordered (id_a < id_b)
    pair sharing ≥1 shingle — the inverted-index co-occurrence frame
    shared by :func:`jaccard_pairs` and :func:`containment_pairs`
    (review r14: the ~25-line block lived verbatim in both, so a fix to
    the shared shape had to be applied twice). One shingle-keyed
    self-join + one pair aggregate, never all-pairs. Input is the
    cached :func:`_shingle_arrays` frame (optimization r15): the
    inverted index explodes from it and doc sizes are a projection of
    it — the former per-doc count aggregate (a full extra exchange) is
    gone."""
    sh = _exploded_shingles(arrs, id_col)
    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        a.join(b, on="shingle")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = arrs.select(F.col(id_col).alias("id_a"), F.col("__n_sh").alias("n_a"))
    sb = arrs.select(F.col(id_col).alias("id_b"), F.col("__n_sh").alias("n_b"))
    return inter.join(sa, on="id_a").join(sb, on="id_b")


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.1,
) -> DataFrame:
    """Exact n-gram Jaccard over pairs sharing ≥1 shingle (full
    inverted-index join over the cached :func:`_shingle_arrays`)."""
    arrs = _shingle_arrays(df, id_col, text_col, k)
    jac = _cooccurrence_counts(arrs, id_col).withColumn(
        "jaccard",
        pround(
            F.col("n_inter")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
            4,
        ),
    )
    return jac.where(F.col("jaccard") >= threshold).select("id_a", "id_b", "jaccard")


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """ASYMMETRIC near-dup: shingle CONTAINMENT |A∩B| / min(|A|, |B|) —
    catches a document embedded inside a larger one (boilerplate-wrapped
    reposts, code files pasted into bigger files), which symmetric
    Jaccard structurally misses: a 50-shingle doc fully contained in a
    500-shingle doc scores J ≈ 0.1 (below any dedup threshold) but
    containment 1.0. Same inverted-index shape as ``jaccard_pairs`` —
    pairs sharing ≥1 shingle, one co-occurrence count aggregate, never
    all-pairs — with the pair oriented (small, big) by shingle count
    (id tiebreak) so the score reads as 'fraction of the smaller doc
    found inside the bigger'."""
    j = _cooccurrence_counts(_shingle_arrays(df, id_col, text_col, k), id_col)
    a_small = (F.col("n_a") < F.col("n_b")) | (
        (F.col("n_a") == F.col("n_b")) & (F.col("id_a") < F.col("id_b"))
    )
    out = j.select(
        F.when(a_small, F.col("id_a")).otherwise(F.col("id_b")).alias("id_small"),
        F.when(a_small, F.col("id_b")).otherwise(F.col("id_a")).alias("id_big"),
        pround(
            F.col("n_inter") / F.least(F.col("n_a"), F.col("n_b")), 4
        ).alias("containment"),
    )
    return out.where(F.col("containment") >= threshold)


def contamination_hits(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
) -> DataFrame:
    """Benchmark decontamination: for every training document, count the
    distinct word ``k``-shingles it shares with ANY document in the eval
    set — the n-gram-collision check run before training so benchmark
    text leaking into the corpus can't inflate eval scores. Returns
    (id, n_hit_shingles) for contaminated docs only; dropping or auditing
    them is the caller's policy.

    Scale shape: the eval side collapses to a DISTINCT shingle set —
    benchmark suites are tiny next to a training corpus, so AQE
    broadcasts it and the train side is never shuffled (the join is left
    unhinted so a pathological giant eval set degrades to a shuffle join
    instead of an OOM). Because the eval set is distinct, each train
    (doc, shingle) row matches AT MOST ONE eval row — zero fan-out even
    on stopword-dense shingles, so the hot-key quadratic blowup of
    doc-to-doc shingle joins cannot occur here. Train shingles are
    per-doc distinct, making the count exactly "distinct shared
    shingles"."""
    tr = word_shingles(train, id_col, text_col, k)
    ev = word_shingles(eval_df, id_col, text_col, k).select("shingle").distinct()
    return (
        tr.join(ev, "shingle")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hit_shingles"))
    )


def dedup_keep_best(
    df: DataFrame, id_col: str, text_col: str, score: Column
) -> DataFrame:
    """Exact-dup resolution with a QUALITY policy: one row per distinct
    normalized text keeping the highest-``score`` member (ties → minimum
    id), plus the group size — the keep-best-per-cluster step a training
    pipeline runs instead of d01's keep-first when members differ in
    metadata quality.

    Scale shape: a single hash AGGREGATE on the 32-byte fingerprint —
    ``max(struct(score, -id))`` is an argmax that map-side partials
    combine associatively, so no per-group sort and no window (group
    sizes are dup multiplicities, but the aggregate shape doesn't even
    rely on them being small). The score is rounded (compat grid) BEFORE
    the argmax so fp noise can't flip keeper choices between engines."""
    scored = df.select(
        F.md5(_normalize(F.col(text_col))).alias("fp"),
        F.col(id_col),
        pround(score, 4).alias("q"),
    )
    best = F.max(
        F.struct(F.col("q"), (-F.col(id_col)).alias("negid"))
    ).alias("b")
    return (
        scored.groupBy("fp")
        .agg(best, F.count(F.lit(1)).alias("n_copies"))
        .select(
            "fp",
            (-F.col("b.negid")).alias("keeper"),
            F.col("b.q").alias("best_quality"),
            F.col("n_copies").cast("bigint").alias("n_copies"),
        )
    )


def fuzzy_dedup_keep_best(
    df: DataFrame,
    id_col: str,
    text_col: str,
    score: Column,
    k: int = 3,
    num_hashes: int = 12,
    band_rows: int = 3,
    max_iterations: int = 20,
    broadcast_max_members: int = 8_000_000,
) -> DataFrame:
    """The FUZZY counterpart of the d12 chain: MinHash-LSH candidate
    pairs → connected components → keep-best-per-cluster. One row per
    near-dup cluster (≥2 members): (cluster_id, keeper, best_quality,
    n_members) — which document survives each fuzzy-duplicate group and
    how many it replaces. Singletons never enter the pair graph, so they
    are implicitly all keepers and excluded here (resolving them costs
    nothing: every doc outside this frame keeps itself).

    ``score`` may reference ``text_col`` (and the join keys) ONLY: the
    corpus side of the members join is projected to (id, text) so the
    quality battery runs on members, not the whole corpus (ADVICE r15 —
    documenting the restriction the r15 projection introduced; a score
    over other metadata columns belongs in :func:`dedup_keep_best`,
    whose input keeps the caller's full row).

    ``broadcast_max_members`` (ADVICE r15): the members frame is only
    broadcast when its exact row count — a cheap scan of the already-
    localCheckpointed cluster frame — stays under this cap. 'Members ≪
    corpus' is the common case, not a construction: on a heavily
    duplicated corpus the members frame can approach the corpus size,
    and an unconditional broadcast would hit the 8 GB / 512M-row
    broadcast hard cap (driver OOM) where a shuffle join degrades
    gracefully. 8M rows of (long, long) ≈ low hundreds of MB framed —
    comfortably inside executor memory at real scale; above the cap the
    planner picks the join strategy from its own estimates.

    Scale shape: the signature→bands→bucket-expansion pipeline is d02's
    single-shuffle form; clustering is d07's per-round (id, label) join
    — both already scale-audited. The keep-best tail joins the (small:
    dup members only) cluster frame back to a quality projection of the
    corpus on the id key and runs ONE argmax aggregate per cluster
    (d10's max(struct) shape, no window). The quality score is rounded
    before the argmax so keeper choice is engine-stable."""
    pairs = minhash_lsh_pairs(df, id_col, text_col, k, num_hashes, band_rows)
    # (doc_id, cluster_id), members only
    clusters = dup_clusters(pairs, max_iterations=max_iterations)
    # score AFTER the members join, not in a pre-join projection
    # (optimization r15, guide §3 "pre-filter the big side"): the score
    # expression (t16's regexp battery in d13) is row-local, and the
    # cluster frame holds dup members only — a tiny fraction of the
    # corpus — so computing it on the joined rows scores exactly the
    # members instead of every corpus document. Catalyst cannot hoist a
    # projection above a join by itself; written this way the corpus
    # side of the (broadcast) join carries raw (id, text) and the regex
    # work runs on members only.
    # broadcast the MEMBERS side explicitly WHEN IT FITS: the
    # checkpointed cluster frame has no stats (ExistingRDD), so the
    # planner otherwise guesses — at sf0.1 it picked the corpus TEXT
    # side as the build, exactly backwards for scale. The hint is gated
    # on the frame's exact row count (ADVICE r15): the frame is already
    # localCheckpoint-materialized, so the count is an in-memory scan,
    # and a heavily duplicated corpus (members ≈ corpus) falls back to
    # the planner's shuffle join instead of tripping the 8 GB broadcast
    # hard cap.
    if clusters.count() <= broadcast_max_members:
        clusters = F.broadcast(clusters)
    j = clusters.join(
        df.select(F.col(id_col).alias("__sid"), F.col(text_col)),
        clusters.doc_id == F.col("__sid"),
    ).select("cluster_id", "doc_id", pround(score, 4).alias("q"))
    best = F.max(
        F.struct(F.col("q"), (-F.col("doc_id")).alias("negid"))
    ).alias("b")
    return (
        j.groupBy("cluster_id")
        .agg(best, F.count(F.lit(1)).alias("n_members"))
        .select(
            "cluster_id",
            (-F.col("b.negid")).alias("keeper"),
            F.col("b.q").alias("best_quality"),
            F.col("n_members").cast("bigint").alias("n_members"),
        )
    )


def decontaminate_resolve_split(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    score: Column,
    k: int = 5,
    train_rate: float = 0.9,
    salt: str = "split",
) -> DataFrame:
    """The ingest tail as ONE composed plan: decontaminate (d09) → resolve
    exact dups keep-best (d10) → leakage-free split (d08). Returns one row
    per surviving distinct content: (fp, keeper, best_quality, n_copies,
    split) — which document to keep and which side of the train/eval
    boundary its content group lands on.

    The operators compose without inter-stage shuffles on the big side:
    the contamination frame is id-only and joins back LEFT ANTI (small by
    construction — AQE broadcasts it); keep-best is the single fp hash
    aggregate; and the split gate hashes the fp ALREADY produced by that
    aggregate, so d08's projection adds zero work. Keying the split on
    the normalized-content fp (rather than d08's raw-text md5) is
    deliberate: whitespace/case variants of a kept document cannot land
    across the boundary. One big-side shuffle end-to-end
    (plan-shape-tested)."""
    from pyspark_bigdata_sars_cov_2_analysis_spark.llmdata.sampling import (
        leakage_free_split,
    )

    hits = contamination_hits(train, eval_df, id_col, text_col, k)
    clean = train.join(hits.select(id_col), id_col, "left_anti")
    keep = dedup_keep_best(clean, id_col, text_col, score)
    return leakage_free_split(
        keep, "keeper", F.col("fp"), train_rate=train_rate, salt=salt
    )


def simhash_signatures(
    df: DataFrame, id_col: str, text_col: str, bits: int = 32
) -> DataFrame:
    """(id, simhash): bit-majority SimHash over distinct whitespace tokens.
    Token hash = first ``ceil(bits/4)`` hex chars of md5 (8 chars — an
    unsigned 32-bit int — at the default), so every signature bit has a
    live vote source. ``bits`` caps at 60: the hash must stay below
    2^63 for the signed-bigint ``conv`` (review r14 — the hash was
    FIXED at 32 bits, so ``bits=64`` silently voted -n_tokens on every
    bit >= 32: all-zero upper halves, dead bands whose (band, val) was
    identical for every doc, and a quadratic candidate blowup in the
    banded self-join instead of an error).

    Scale shape: each token row carries its ``bits`` ±1 votes as ``bits``
    sum columns into ONE ``groupBy(id)`` — map-side partial sums combine
    per bit, the shuffle moves one row of ``bits`` longs per (map
    partition, id), and the signature is assembled from the votes as a
    pure column expression. No joins, no row fan-out, single exchange
    (the earlier formulation crossJoined every token with a broadcast
    bit index, multiplying pre-shuffle rows ``bits``×, and needed a
    second aggregate to fold bytes into the signature)."""
    if not 1 <= bits <= 60:
        raise ValueError(
            f"bits must be in [1, 60] (the token hash is built from "
            f"ceil(bits/4) md5 hex chars and must fit a signed bigint), "
            f"got {bits}"
        )
    toks = df.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(F.split(_normalize(F.col(text_col)), " "))
        ).alias("tok"),
    )
    n_hex = (bits + 3) // 4  # 8 at bits=32 — the historical hash exactly
    h = F.conv(F.substring(F.md5("tok"), 1, n_hex), 16, 10).cast("bigint")
    t = toks.select(F.col(id_col), h.alias("h"))
    # bit b of h via shiftright with a LITERAL shift (stays in codegen);
    # vote = +1 when set, -1 when clear
    votes = [
        F.sum(
            F.when(
                F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1
            ).otherwise(-1)
        ).alias(f"v{b}")
        for b in range(bits)
    ]
    agg = t.groupBy(id_col).agg(*votes)
    sim = F.lit(0).cast("bigint")
    for b in range(bits):
        sim = sim + F.when(
            F.col(f"v{b}") > 0, F.lit(1 << b).cast("bigint")
        ).otherwise(F.lit(0).cast("bigint"))
    return agg.select(F.col(id_col), sim.alias("simhash"))


def simhash_band_layout(bits: int, band_bits: int) -> list[tuple[int, int]]:
    """Band layout as (shift, width) slices covering EVERY signature bit
    exactly once. When ``band_bits`` does not divide ``bits`` the top
    ``bits % band_bits`` bits get a narrower remainder band — without it
    they would sit outside every band and two signatures differing only
    there would never become candidates (silent recall loss)."""
    if not 0 < band_bits <= bits:
        raise ValueError(
            f"band_bits must be in 1..{bits} for {bits}-bit signatures, "
            f"got {band_bits}"
        )
    layout = [(b * band_bits, band_bits) for b in range(bits // band_bits)]
    rem = bits % band_bits
    if rem:
        layout.append((bits - rem, rem))
    return layout


def simhash_neardup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 6,
    bits: int = 32,
    band_bits: int | None = None,
    n_docs: int | None = None,
) -> DataFrame:
    """SimHash near-duplicate pairs: candidates share at least one band
    slice of the signature, then verified exactly with
    bit_count(xor) ≤ max_hamming. Detection is GUARANTEED (pigeonhole)
    only when the layout has more bands than max_hamming: ≤h differing
    bits touch ≤h bands, so with n_bands > h at least one band matches
    exactly. With n_bands ≤ h a pair inside the Hamming budget can split
    its errors across every band and be missed — the warning below fires
    for such configs (the standard LSH recall trade, made explicit).

    Scale shape: bits/band_bits small (band, value) rows per doc, then a
    self-EQUI-JOIN on (band, value) with id_a < id_b — each side carries
    its signature, so the exact Hamming check is a projection on the
    join output and needs no re-join. This differs from d02's
    bucket-grouped expansion deliberately: there the point is to AVOID
    materializing intra-corpus pairs (they're not the output); here
    every qualifying intra-corpus pair IS the output, and streaming them
    through a join beats building per-bucket pair ARRAYS first —
    measured at sf0.1 (5000 docs, 5.25M pairs): 27-30s array-grouped →
    5.4-9.3s joined, a 4-5x win, because the nested
    transform/slice/flatten materialized ~50k-struct arrays per bucket
    row before exploding. Small inputs broadcast-hash; at scale both
    sides shuffle on (band, value), where the band_bits auto-scaling
    below keeps per-key bucket sizes bounded. Emission is canonicalized
    to the FIRST matching band of each pair's xor mask (a row-local
    when-chain), so every pair surfaces exactly once and the old global
    distinct() exchange over ~5x-duplicated full-width rows disappears.
    MEASURED: at 50k docs a fixed 8-bit banding
    saturates (≤1024 buckets per band → bucket sizes grow with N and pair
    expansion goes quadratic), so ``band_bits=None`` (the default)
    auto-scales with corpus size: ``clamp(ceil(log2(n_docs)), 8,
    bits // 2)`` — bucket count per band then grows at least linearly
    with the corpus. ``n_docs`` (VERDICT r9 #5, d18's probe-hint rule
    applied here): callers that already know the corpus size — an
    ingest loop counting its input anyway, a planner with catalog stats
    — pass it to skip the sizing ``count()`` job entirely; the default
    ``None`` runs one columnar count scan, noise next to the dedup
    itself, and the hint only sizes the LAYOUT (an off-by-2x estimate
    shifts band_bits by at most 1 — recall/cost trade, never
    correctness). Ignored when ``band_bits`` is pinned explicitly.
    Recall trade (standard LSH): fewer, wider
    bands → a pair must agree on one of fewer bands — detection is only
    GUARANTEED when Hamming < n_bands. Pass ``band_bits`` explicitly
    (e.g. the d06 oracle pins 4 → 8 bands > max_hamming=6) when the band
    layout itself is part of the contract; raise ``bits`` to 64 (with a
    widened hash) for corpora past ~100M docs."""
    if band_bits is None:
        import math

        if n_docs is None:
            n_docs = df.count()
        band_bits = min(bits // 2, max(8, math.ceil(math.log2(max(n_docs, 2)))))
    layout = simhash_band_layout(bits, band_bits)
    if len(layout) <= max_hamming:
        import warnings

        warnings.warn(
            f"simhash_neardup_pairs: {len(layout)} bands <= max_hamming="
            f"{max_hamming}; pigeonhole detection is not guaranteed — pairs "
            "within the Hamming budget can split across all bands. Lower "
            "band_bits or raise bits.",
            stacklevel=2,
        )
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(F.col("simhash"), shift)
                .bitwiseAND(F.lit((1 << width) - 1))
                .alias("val"),
            )
            for b, (shift, width) in enumerate(layout)
        ]
    )

    def first_match_band(m: Column) -> Column:
        """Index of the LOWEST band whose slice of the xor mask ``m`` is
        all-zero — i.e. the first band where the two signatures agree.
        Literal when-chain over the layout: row-local, codegen. The
        canonical-emission rule: a pair with Hamming ≤ h matches
        ≥ n_bands − h bands (all of them for identical signatures) and
        would otherwise be emitted once per matching band; keeping it
        only where the join band equals this index yields each pair
        exactly once by construction — its first matching band's bucket
        contains both members by definition — so no distinct is
        needed and duplicates never exist at all."""
        expr: Column = F.lit(len(layout))  # sentinel, unreachable in-bucket
        for b, (shift, width) in reversed(list(enumerate(layout))):
            expr = F.when(
                F.shiftright(m, shift).bitwiseAND(F.lit((1 << width) - 1))
                == 0,
                F.lit(b),
            ).otherwise(expr)
        return expr

    from pyspark_bigdata_sars_cov_2_analysis_spark.plans.registry import (
        tracked_cache,
    )

    sig = simhash_signatures(df, id_col, text_col, bits)
    # Cached through the plan-cache registry (optimization r15, the
    # d16/_shingle_arrays rule applied here): both self-join sides are
    # projections of this ONE frame, but they project different aliases,
    # so ReuseExchange never canonicalizes them together and the whole
    # signature pipeline — tokenize, explode, md5, bit-majority
    # aggregate over the full corpus — executed TWICE, once per side.
    # The cache is tiny (n_bands rows of four ints per doc, no text) and
    # released by registry.release_plan_caches() like every plan cache.
    banded = tracked_cache(
        sig.select(
            F.col(id_col), F.col("simhash"), F.explode(bands).alias("bs")
        ).select(F.col(id_col), "simhash", "bs.band", "bs.val")
    )
    a = banded.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sa"),
        "band", "val",
    )
    b = banded.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sb"),
        "band", "val",
    )
    m = F.col("sa").bitwiseXOR(F.col("sb"))
    return (
        a.join(b, ["band", "val"])
        .where(F.col("id_a") < F.col("id_b"))
        .where(
            (F.bit_count(m) <= max_hamming)
            & (F.col("band") == first_match_band(m))
        )
        .select(
            "id_a", "id_b", F.bit_count(m).cast("bigint").alias("hamming")
        )
    )


def _doc_chunks(
    df: DataFrame, id_col: str, text_col: str, chunk_words: int
) -> DataFrame:
    """(id, pos, chunk, lh): consecutive ``chunk_words``-word spans of
    each document with their position and 16-byte hash — the exploded
    frame both the batch (:func:`chunk_dedup_keep_first`) and streaming
    (:func:`chunk_ingest_batch_idempotent`) span dedups run on. Pure
    row-local expressions, no shuffle."""
    return (
        df.select(
            F.col(id_col),
            F.split(F.col(text_col), " ").alias("w"),
        )
        .select(
            id_col,
            F.posexplode(
                F.transform(
                    F.sequence(
                        F.lit(0),
                        F.ceil(F.size("w") / chunk_words).cast("int") - 1,
                    ),
                    lambda i: F.array_join(
                        F.slice("w", i * chunk_words + 1, chunk_words), " "
                    ),
                )
            ).alias("pos", "chunk"),
        )
        .withColumn("lh", F.md5("chunk"))
    )


def chunk_dedup_keep_first(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_words: int = 10,
) -> DataFrame:
    """Span-level (CCNet/C4-style) dedup WITHIN documents across the
    whole corpus: split each document into consecutive ``chunk_words``-word
    chunks, keep only the corpus-wide FIRST occurrence of each distinct
    chunk (ordered by (id, position)), and reassemble the surviving
    chunks per document — the pretraining cleanup that strips boilerplate
    spans (headers, license blocks, navigation) repeated across pages,
    which document-level dedup (d01-d07) can never catch because the
    documents differ elsewhere.

    Returns ``(id_col, clean_text, n_chunks, n_dropped)``.

    Degenerate text (pinned by
    tests/test_properties.py::test_chunk_dedup_null_and_empty_text): a
    NULL-text document has no chunks and is ABSENT from the output —
    SQL NULL propagation, and exactly what the d14 DuckDB oracle
    computes — while an empty text is one ``''`` chunk subject to
    normal keep-first. This differs from the d11 band ingest, where a
    NULL-text doc has no shingles and passes through to the output;
    callers wanting NULL-text docs surfaced here must gate them
    upstream (the quality gate emits ``keep=false/'null_text'``).

    Scale shape: first-occurrence selection is a
    ``min(struct(id, pos, chunk))`` AGGREGATE keyed on md5(chunk) —
    never a window over the chunk hash, whose hot keys (the boilerplate
    being removed!) would serialize into single window partitions. The
    corpus is chunked exactly ONCE (optimization r15: per-doc totals
    are the row-local ``ceil(n_tokens/chunk_words)``, no second
    explode, and the survivor text rides the min struct instead of a
    semi-join back onto a third re-chunking); chunk text crosses
    exactly two exchanges (the hash groupBy — where map-side partials
    collapse duplicates first — and the per-doc reassembly, the a08
    ordered-collect aggregate keyed by document id)."""
    chunks = _doc_chunks(df, id_col, text_col, chunk_words)
    kept = _first_occurrence_survivors(chunks, id_col)
    # same tokenization expression as _doc_chunks, so the count matches
    # the explode's row count exactly (incl. empty text = 1 '' chunk);
    # NULL text yields no chunk rows there and is filtered here
    w = F.split(F.col(text_col), " ")
    totals = (
        df.where(F.col(text_col).isNotNull())
        .select(
            F.col(id_col),
            F.ceil(F.size(w) / chunk_words).cast("long").alias("__n"),
        )
        .groupBy(id_col)
        .agg(F.sum("__n").alias("n_chunks"))
    )
    return _reassemble_chunks(chunks, kept, id_col, totals=totals)


def _first_occurrence_survivors(chunks: DataFrame, id_col: str) -> DataFrame:
    """The chunk rows surviving keep-first: min(struct(id, pos, chunk))
    per chunk hash (an aggregate, never a window over the hot
    boilerplate keys). Shared by the batch operator and the streaming
    ingest twin (review r14: the block lived verbatim in both, so the
    twins could drift).

    The chunk TEXT rides INSIDE the min struct (optimization r15, guide
    §2.4): struct comparison is lexicographic and (id, pos) is unique
    per chunk row, so the text field never decides an ordering — it
    just tags along, and the former semi-join back onto the full
    exploded frame (a second full shuffle of every chunk row, text
    included, plus a third corpus re-chunking in the batch operator) is
    gone. Map-side partial min collapses duplicates before the
    exchange, so the shuffle carries one chunk text per distinct hash
    per map partition — strictly fewer text bytes than the semi-join
    probe side moved."""
    return (
        chunks.groupBy("lh")
        .agg(
            F.min(
                F.struct(
                    F.col(id_col).alias("id"), F.col("pos"), F.col("chunk")
                )
            ).alias("fo")
        )
        .select(
            F.col("fo.id").alias(id_col),
            F.col("fo.pos").alias("pos"),
            F.col("fo.chunk").alias("chunk"),
            "lh",
        )
    )


def _reassemble_chunks(
    chunks: DataFrame, kept: DataFrame, id_col: str,
    totals: DataFrame | None = None,
) -> DataFrame:
    """(id, clean_text, n_chunks, n_dropped): per-doc ordered reassembly
    of the surviving chunks against the full chunk totals — the a08
    ordered-collect aggregate, one shuffle keyed by document id. Shared
    by the batch operator and the streaming ingest twin. ``totals``
    (optimization r15): a caller that can compute per-doc chunk counts
    WITHOUT the exploded frame (row-local ``ceil(n_tokens/k)`` — the
    batch operator) passes them here and skips one full corpus
    re-chunking; the streaming twin keeps the default (its ``chunks``
    is a cached micro-batch frame, so the count is a cache read)."""
    if totals is None:
        totals = chunks.groupBy(id_col).agg(
            F.count(F.lit(1)).alias("n_chunks")
        )
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "chunk"))),
                lambda s: s["chunk"],
            ),
            " ",
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    return (
        totals.join(rebuilt, on=id_col, how="left")
        .select(
            id_col,
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            "n_chunks",
            (F.col("n_chunks") - F.coalesce("n_kept", F.lit(0))).alias(
                "n_dropped"
            ),
        )
    )


def _chunk_firsts(chunks: DataFrame, id_col: str) -> DataFrame:
    """(lh, id, pos): the first occurrence of every distinct chunk hash
    — chunk checkpoint state. Only (id, pos) ride the min struct: the
    state never stores chunk text."""
    fo = F.min(F.struct(F.col(id_col).alias("id"), F.col("pos"))).alias("fo")
    return chunks.groupBy("lh").agg(fo).select(
        "lh", F.col("fo.id").alias(id_col), F.col("fo.pos").alias("pos")
    )


def _chunk_core(batch_df, chunks, prior, id_col, text_col, want):
    """Chunk ingest: drop every chunk whose hash the state holds, keep
    the within-batch first occurrence of the rest (the batch operator's
    min(struct) aggregate), reassemble the survivors per document and
    append the batch's new first occurrences. A NULL-text doc has no
    chunks and DROPS OUT of the output, as in
    :func:`chunk_dedup_keep_first` — unlike band ingest."""
    fresh = chunks.join(prior.select("lh"), on="lh", how="left_anti")
    # kept feeds the output write and the append: cached, so the state
    # anti-join and the aggregate run once per batch
    kept = _first_occurrence_survivors(fresh, id_col).cache()
    out = _reassemble_chunks(chunks, kept, id_col)
    return out, kept.select("lh", id_col, "pos"), kept


_CHUNKS = _CheckpointKind(
    name="chunk",
    key="lh",
    bucket="lhb",
    grid="n_buckets",
    lead=(),
    default_grid=64,
    mismatch="chunk boundaries would never align",
    encoding=None,
    key_rows=lambda df, id_col, text_col, want: _doc_chunks(
        df, id_col, text_col, want["chunk_words"]
    ),
    state_rows=_chunk_firsts,
    columns=lambda id_col: ["lh", id_col, "pos"],
    core=_chunk_core,
)


def read_chunk_params(spark, path: str) -> dict:
    """The chunk checkpoint's recorded parameters as a dict —
    ``{"chunk_words", "n_buckets"}`` from its newest manifest."""
    return _CHUNKS.latest(path)["params"]


def write_chunk_checkpoint(
    corpus_df: DataFrame,
    path: str,
    id_col: str,
    text_col: str,
    chunk_words: int = 10,
    mode: str = "overwrite",
    batch_id: int | None = None,
    n_buckets: int | None = None,
) -> None:
    """Persist a corpus's span-dedup state — the FIRST occurrence
    ``(lh, id, pos)`` of every distinct chunk hash (VERDICT r7 #8), one
    16-byte hash and two ids per distinct chunk, so no batch re-chunks
    the admitted corpus. Partitioned by ``lhb = pmod(xxhash64(lh),
    n_buckets)`` (default 64; 0 = flat, unpartitioned) so the ingest
    probe prunes to its batch's buckets; ``chunk_words`` and the grid
    ride every manifest. Seeding, appending and the grid follow
    :meth:`_CheckpointKind.write`."""
    _CHUNKS.write(
        corpus_df, path, id_col, text_col, dict(chunk_words=chunk_words),
        mode, batch_id, n_buckets,
    )


def read_chunk_checkpoint(
    spark,
    path: str,
    id_col: str,
    chunk_words: int = 10,
    buckets: list[int] | None = None,
) -> DataFrame:
    """Load a chunk checkpoint as ``(lh, id_col, pos)`` after validating
    ``chunk_words`` against the recorded one. ``buckets`` restricts the
    scan to those ``lhb`` cells. See :meth:`_CheckpointKind.read`."""
    return _CHUNKS.read(
        spark, path, id_col, dict(chunk_words=chunk_words), buckets
    )


def compact_chunk_checkpoint(spark, path: str) -> dict:
    """Compact a chunk checkpoint to one file per ``lhb`` cell (a single
    file on a flat layout) — see :meth:`_CheckpointKind.compact`."""
    return _CHUNKS.compact(spark, path)


def chunk_ingest_batch_idempotent(
    batch_df: DataFrame,
    batch_id: int,
    chunk_path: str,
    out_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_words: int = 10,
) -> None:
    """One replay-safe micro-batch of streaming span dedup — d14's
    incremental form: drop the batch's chunks already in the
    checkpoint, keep the within-batch first occurrences, publish the
    reassembled documents to an ``ingest_batch=<id>`` partition and
    append the new first occurrences. See :meth:`_CheckpointKind.ingest`.

    Batches with increasing ids reproduce :func:`chunk_dedup_keep_first`
    on the concatenated corpus exactly PROVIDED doc ids are monotone
    with batch order (d19's delivery contract). A later batch that
    delivers a SMALLER id sharing a chunk with an admitted doc keeps the
    admitted copy (arrival order), where the batch operator would keep
    the smaller id."""
    _CHUNKS.ingest(
        batch_df, batch_id, chunk_path, out_path, id_col, text_col,
        dict(chunk_words=chunk_words),
    )


def streaming_chunk_dedup_ingest(
    spark,
    source_dir: str,
    schema: str,
    chunk_path: str,
    out_path: str,
    stream_checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_words: int = 10,
    max_files_per_trigger: int = 1,
    compact_every: int = 0,
):
    """Streaming driver for :func:`chunk_ingest_batch_idempotent` — the
    d14 form of :func:`streaming_neardup_ingest`. Seed the chunk
    checkpoint first with :func:`write_chunk_checkpoint`. See
    :meth:`_CheckpointKind.stream`."""
    return _CHUNKS.stream(
        spark, source_dir, schema, chunk_path, out_path, stream_checkpoint,
        id_col, text_col, dict(chunk_words=chunk_words),
        max_files_per_trigger, compact_every,
    )
