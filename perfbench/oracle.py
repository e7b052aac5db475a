"""Result digests for every benchmarked query, and the script that makes them.

A digest is the row count plus the SHA-256 of the rows in the canonical form
of ``tests/oracle_harness.py`` (columns sorted by name, cells as canonical
strings, rows sorted). ``oracles.json`` holds the digests of each query's
DuckDB oracle (``registry.ORACLES``) over the benchmark's data sets. It is
made once, and again whenever a query, its oracle or the data changes:

    python3 perfbench/oracle.py

A run compares the digest of each query's Spark result against this file,
after its timed passes.
"""

from __future__ import annotations

import functools
import hashlib
import importlib.util
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ORACLES_FILE = os.path.join(HERE, "oracles.json")


@functools.cache
def _harness():
    path = os.path.join(ROOT, "tests", "oracle_harness.py")
    spec = importlib.util.spec_from_file_location("perfbench_oracle_harness", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def digest(columns: list[str], rows: list[tuple]) -> dict:
    canon = _harness()._canon_rows(columns, rows)
    h = hashlib.sha256()
    for row in canon:
        h.update(repr(row).encode())
        h.update(b"\n")
    return {"rows": len(canon), "sha256": h.hexdigest()}


def spark_digest(df) -> dict:
    return digest(list(df.columns), [tuple(r) for r in df.collect()])


def load() -> dict:
    with open(ORACLES_FILE) as f:
        return json.load(f)


def main() -> None:
    sys.path.insert(0, ROOT)
    from pyspark_bigdata_sars_cov_2_analysis_spark.plans import ORACLES

    from workloads import DATA_SETS, WORKLOADS

    harness = _harness()
    names = sorted({q for w in WORKLOADS.values() for q in w.queries})
    out = {
        "note": "Row count and SHA-256 of each query's DuckDB oracle "
                "(registry.ORACLES) in the canonical row form of "
                "tests/oracle_harness.py; made by python3 perfbench/oracle.py.",
    }
    for data_name in DATA_SETS:
        con = harness.duck_connection(os.path.join(HERE, "data", data_name))
        out[data_name] = {}
        for name in names:
            res = con.sql(ORACLES[name])
            out[data_name][name] = digest(list(res.columns), res.fetchall())
        con.close()
    with open(ORACLES_FILE, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
