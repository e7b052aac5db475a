"""Full-registry sf0.1 DuckDB-parity rehearsal (the VERDICT r9 #8 /
r11 #3 every-other-round MUST leg — the mitigation for windowed
attestation staleness: the driver's per-round gate hashes only 50 of
211 queries at sf0.01, so every other round the WHOLE oracle registry
is re-verified locally at 10x that scale).

Not a pytest module (no ``test_`` prefix) — a one-shot runner:

    python tests/run_sf01_rehearsal.py [sf_dir] [summary_out.json]

Protocol: the session is the engine's own ``start_session()`` — its
``spark.driver.memory`` default is 8g (d06 emits 5.25M pairs at sf0.1
and the harness collects results — a 1g driver dies), and the core count
and shuffle partitions come from ``SPARK_GRAFT_CPUS``, or the host's
core count when it is unset — with ``clearCache()`` + ``release_plan_caches()``
between queries. Prints
one ``REHEARSAL:{...}`` summary line to stdout; pass a second argument
to also write that summary as a JSON file.
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    from pyspark_bigdata_sars_cov_2_analysis_spark import plans, start_session

    spark = start_session("sf01-rehearsal")
    from pyspark_bigdata_sars_cov_2_analysis_spark.plans import registry
    from tests.oracle_harness import compare

    t0 = time.time()
    ok: list[str] = []
    fail: dict[str, str] = {}
    names = sorted(plans.ORACLES)
    for i, name in enumerate(names, 1):
        try:
            compare(spark, name, plans.QUERIES[name], plans.ORACLES[name], sf_dir)
            ok.append(name)
        except Exception as exc:  # keep going: report ALL failures
            fail[name] = f"{type(exc).__name__}: {exc}"[:400]
            traceback.print_exc()
        spark.catalog.clearCache()
        registry.release_plan_caches()
        if i % 20 == 0:
            print(
                f"[{i}/{len(names)}] ok={len(ok)} fail={len(fail)} "
                f"t={time.time() - t0:.1f}s",
                flush=True,
            )
    out = {
        "sf_dir": sf_dir,
        "ok": len(ok),
        "fail": fail,
        "total": len(names),
        "secs": round(time.time() - t0, 1),
    }
    print("REHEARSAL:" + json.dumps(out))
    if len(sys.argv) > 2:
        with open(sys.argv[2], "w") as fh:
            json.dump(out, fh, indent=1)
    spark.stop()
    return 1 if fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
