"""Isolated per-query timing probe — bench.py's exact cold-timing
methodology (min of N fully-cold repeats: cache + RDD blocks cleared,
count() as the action) for a handful of queries, without the other ~120
entries' JVM residue in front. Use to re-time watch-list movers before
any bisect (PERFORMANCE.md standing rule: re-time isolated first).

Prints one JSON line {query: min_sec} plus the narrow calibration probe
before/after so ambient contention is visible in the reading.

Usage: python tools/time_isolated.py <query> [query ...]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    names = sys.argv[1:]
    from bench import _calibration_probe

    from mapreducelearnings_spark.queries import PHASE_TIMES, REGISTRY
    from mapreducelearnings_spark.session import _env, _positive_int, get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    repeats = _env("SPARK_GRAFT_BENCH_REPEATS", _positive_int, 3)
    probe_before = _calibration_probe()
    spark = get_spark("time-isolated")
    REGISTRY["pricing_summary"].spark(spark, sf_dir).count()  # JVM warmup

    def _drop_rdd_blocks() -> None:
        import gc

        gc.collect()
        for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist(True)

    out: dict[str, float] = {}
    phases: dict[str, dict[str, float]] = {}
    for name in names:
        spec = REGISTRY[name]
        best = float("inf")
        for _ in range(repeats):
            spark.catalog.clearCache()
            _drop_rdd_blocks()
            PHASE_TIMES.pop(name, None)
            t0 = time.perf_counter()
            spec.spark(spark, sf_dir).count()
            elapsed = time.perf_counter() - t0
            if elapsed < best:
                best = elapsed
                if name in PHASE_TIMES:
                    phases[name] = dict(PHASE_TIMES[name])
        out[name] = round(best, 4)
    spark.stop()
    probe_after = _calibration_probe()
    print(
        json.dumps(
            {
                "queries": out,
                "phases": phases,
                "probe_before_sec": probe_before,
                "probe_after_sec": probe_after,
                "loadavg": [round(x, 2) for x in os.getloadavg()],
            }
        )
    )


if __name__ == "__main__":
    main()
