"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

All real logic lives in the ``pyspark_bigdata_sars_cov_2_analysis_spark``
package; this module just re-exports the registry built by
``plans/*`` (one oracle-checked entry per operator in SURVEY.md §2 plus the
LLM-data surface).
"""

from __future__ import annotations

import json
import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from pyspark_bigdata_sars_cov_2_analysis_spark import plans


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1 family pricing summary) on sf0.001."""
    return plans.QUERIES["q1_pricing_summary"](spark, "/root/testdata/sf0.001")


# Attestation checks the FIRST ``WINDOW`` names of ``queries()``, so the
# dict is emitted stalest-first (raw registration order left the whole
# TPC-H/join/text/udf surface unattested for three rounds, ADVICE r3).
# The order is computed from the CORRECTNESS_r*.json records next to
# this file, never kept by hand.
WINDOW = 50

_RECORDS = re.compile(r"CORRECTNESS_r(\d+)\.json")


def _green(rec: dict) -> bool:
    return bool(
        rec.get("rows_match") and rec.get("schema_match")
        and rec.get("hash_match")
    )


def _attestation_order(names: list[str], record_dir: str) -> list[str]:
    """``names`` reordered for attestation: first the names never green
    (rows, schema and hash all matching) in any ``CORRECTNESS_r<N>.json``
    under ``record_dir``, in their given order; then the rest by the
    round they were last green in, oldest first, ties broken by
    position in that round's record."""
    last_green: dict[str, tuple[int, int]] = {}
    for fname in os.listdir(record_dir):
        m = _RECORDS.fullmatch(fname)
        if not m:
            continue
        rnd = int(m.group(1))
        with open(os.path.join(record_dir, fname)) as fh:
            record = json.load(fh)
        for pos, (name, rec) in enumerate(record.items()):
            if _green(rec) and rnd > last_green.get(name, (-1, 0))[0]:
                last_green[name] = (rnd, pos)
    never = [n for n in names if n not in last_green]
    seen = sorted((n for n in names if n in last_green), key=last_green.get)
    return never + seen


def _ordered_names() -> list[str]:
    return _attestation_order(
        list(plans.QUERIES), os.path.dirname(os.path.abspath(__file__))
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {n: plans.QUERIES[n] for n in _ordered_names()}


def oracle_sql() -> dict[str, str]:
    return {n: plans.ORACLES[n] for n in _ordered_names() if n in plans.ORACLES}
