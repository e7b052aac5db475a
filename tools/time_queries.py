"""Focused per-query timing with the bench's protocol (count() action)
and more runs.

Usage: python tools/time_queries.py name [name ...] [--runs N]
Prints per-query all-run timings plus min/median so steady state and
first-run (plan+compile) cost are separable. clearCache between queries,
same as bench.py.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark_bigdata_sars_cov_2_analysis_spark import plans, start_session  # noqa: E402


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    runs = 5
    if "--runs" in sys.argv:
        runs = int(sys.argv[sys.argv.index("--runs") + 1])
        args = [a for a in args if a != str(runs)]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = start_session("time-queries")
    spark.sparkContext.setLogLevel("ERROR")
    # same warmup as bench.py
    plans.QUERIES["q6_forecast_revenue"](spark, sf_dir).collect()
    spark.range(2).toPandas()
    spark.range(2).groupBy("id").applyInPandas(
        lambda pdf: pdf, schema="id long"
    ).count()
    for name in args:
        fn = plans.QUERIES[name]
        ts = []
        for _ in range(runs):
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            df.count()
            ts.append(round(time.perf_counter() - t0, 3))
            spark.catalog.clearCache()
        srt = sorted(ts)
        print(
            f"{name}: min={srt[0]} med={srt[len(srt) // 2]} runs={ts}",
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
