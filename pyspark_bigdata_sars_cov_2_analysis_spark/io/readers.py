"""Source readers (SURVEY.md §2.1 S1-S5, S7, S9).

Differences from the reference, by design:
- S1: the reference reads CSV schema-less so every column is a string
  (``spark/jobs/cases_time_analysis.py:86-89``); we take an explicit
  schema (inference is a separate full pass over 100 TB).
- S2: the reference unions one JSON read per source dir in a Python loop
  (``spark/jobs/research_challenge_analysis.py:39-69``); we pass the list
  of paths to a single read so Spark plans one scan.
- S3: images via the ``image`` source with label derived from the path,
  not four reads + ``lit`` tags
  (``spark/jobs/radiography_analysis.py:71-89``).
"""

from __future__ import annotations

import os
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def read_parquet(
    spark: SparkSession, path: str, merge_schema: bool = False
) -> DataFrame:
    """Parquet scan. ``merge_schema=True`` is the READ side of u12's
    schema evolution: when a table gained columns mid-history, the
    default read takes the schema from one footer and silently DROPS the
    new columns if it happens to sample an old file — mergeSchema unions
    every file's schema and null-pads old files, at the cost of reading
    all footers (so at 100 TB, prefer declaring the target schema
    explicitly once it's known; mergeSchema is for discovery). Pinned by
    ``tests/test_io_and_ops.py::test_parquet_merge_schema_read``."""
    if merge_schema:
        return spark.read.option("mergeSchema", "true").parquet(path)
    return spark.read.parquet(path)


def read_csv(
    spark: SparkSession,
    path: str | list[str],
    schema: StructType | str | None = None,
    header: bool = True,
    **options: str,
) -> DataFrame:
    """CSV scan with an explicit schema (S1).

    If ``schema`` is None we fall back to all-string columns like the
    reference, but loudly: callers at scale should always pass a schema so
    the scan prunes and pushes down correctly.
    """
    reader = spark.read.options(header=str(header).lower(), **options)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.csv(path)


def read_json(
    spark: SparkSession,
    paths: str | Iterable[str],
    schema: StructType | None = None,
    multiline: bool = False,
    source_tag_column: str | None = None,
    corrupt_column: str | None = None,
) -> DataFrame:
    """JSON scan with explicit nested schema (S2).

    ``source_tag_column`` reproduces the reference's ``lit(source)`` tag
    (``spark/jobs/research_challenge_analysis.py:61-63``) from the file path
    itself — one scan, no loop+union.

    ``corrupt_column`` opts into auditable PERMISSIVE parsing: malformed
    lines land with their raw text in that column instead of silently
    becoming all-null rows (requires ``schema``; Spark only captures the
    raw record when the column is declared in it). At crawl scale some
    fraction of every JSON batch IS malformed — dropping it silently
    biases the corpus, failing the whole batch (FAILFAST) wastes it; the
    audit column lets the pipeline quarantine and count. CAVEAT (Spark
    limitation): a query whose referenced columns are ONLY the corrupt
    column (e.g. ``df.where(col('_bad').isNotNull()).count()``) raises
    AnalysisException on the raw scan — ``.cache()`` the frame (or
    select a data column alongside) before splitting it into good/bad,
    as tests/test_io_and_ops.py::test_json_corrupt_record_capture
    demonstrates."""
    if isinstance(paths, str):
        paths = [paths]
    reader = spark.read
    if corrupt_column is not None:
        if schema is None:
            raise ValueError("corrupt_column requires an explicit schema")
        # copy before add(): StructType.add mutates in place and the
        # caller's schema object is not ours to grow
        schema = StructType(list(schema.fields)).add(corrupt_column, "string")
        reader = reader.option("columnNameOfCorruptRecord", corrupt_column)
    if schema is not None:
        reader = reader.schema(schema)
    df = reader.option("multiLine", str(multiline).lower()).json(list(paths))
    if source_tag_column:
        df = df.withColumn(
            source_tag_column,
            F.regexp_extract(F.input_file_name(), r"([^/]+)/[^/]+$", 1),
        )
    return df


def read_images(
    spark: SparkSession, path: str, drop_invalid: bool = True
) -> DataFrame:
    """Real ``format("image")`` directory scan (S3) — the reference's
    radiography ingest (``spark/jobs/radiography_analysis.py:71-89``):
    JVM-side ImageIO decode to struct<origin,height,width,nChannels,mode,
    data> plus a ``label`` column from the parent directory name. Works on
    BMPs produced by ``llmdata.imaging.encode_bmp`` in this
    media-lib-less container (ImageIO ships a BMP plugin)."""
    df = (
        spark.read.format("image")
        .option("dropInvalid", str(drop_invalid).lower())
        .load(path)
    )
    return df.withColumn(
        "label", F.regexp_extract(F.col("image.origin"), r"([^/]+)/[^/]+$", 1)
    )


def load_tables(
    spark: SparkSession,
    sf_dir: str,
    tables: Iterable[str] = TESTDATA_TABLES,
) -> dict[str, DataFrame]:
    """Load the driver's synthetic star schema (TESTDATA.md)."""
    out: dict[str, DataFrame] = {}
    for t in tables:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            out[t] = spark.read.parquet(p)
    return out


def read_text(
    spark: SparkSession, path: str | list[str], whole_file: bool = False
) -> DataFrame:
    """Line-per-row (or file-per-row) text scan — the raw-corpus entry
    point for the LLM-data text surface."""
    paths = path if isinstance(path, list) else [path]
    return spark.read.text(paths, wholetext=whole_file)
