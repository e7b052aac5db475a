"""The benchmark's workloads: which registered queries each runs.

A workload is a fixed list of registry queries run as one pass. The run's
seed only permutes the order inside each pass; the inputs are the fixed
tables under ``data/``. Why each workload exists is stated in
``BENCHMARK.json`` and ``README.md``.
"""

from __future__ import annotations

from dataclasses import dataclass

# The project's synthetic test tables (seed 42), copied byte for byte so
# the benchmark reads nothing outside its checkout. ``sf0.01`` is measured;
# ``sf0.001`` feeds the smoke mode.
DATA_SETS = ("sf0.01", "sf0.001")
MEASURED_DATA = "sf0.01"
SMOKE_DATA = "sf0.001"


@dataclass(frozen=True)
class Workload:
    queries: tuple[str, ...]
    # warm passes every run makes, more only if --seconds leaves room
    warm_passes: int


WORKLOADS = {
    "tpch_scan_join": Workload(
        queries=(
            "q9_product_profit", "e02_sessionize", "j07_range_join_binned",
        ),
        # its warm passes still get cheaper until about the third
        warm_passes=5,
    ),
    "ingest_state": Workload(
        queries=(
            "o14_snapshot_lifecycle", "e15_snapshot_sink_stream",
            "u05_grouped_forecast",
        ),
        warm_passes=2,
    ),
}
