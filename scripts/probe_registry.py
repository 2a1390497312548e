"""Registry timing probe: time registered queries across a list of SF dirs
and print one JSON line with per-op medians plus the ratio between
consecutive dirs — the shared harness behind BASELINE.md's scaling tables
and the all-keys decade screen.

Each run builds the query's plan and runs it to completion through the
``noop`` sink: ``count()`` would let Catalyst prune what the count does not
need (q1's aggregates, ``window_running``'s projection, ``semantic_dedup``'s
join). A query that raises is recorded as ``FAIL <type>`` and the probe
goes on.

Usage:
    python scripts/probe_registry.py <op1,op2,...|all> <dir1> <dir2> [dir3 ...]

Dirs should be ordered smallest → largest; `ratio_<i>` is
median(dir[i]) / median(dir[i-1]). The all-keys sf0.1 → sf1 outlier screen
(one timed run per query and SF; flag ratios above 3):
    SPARK_GRAFT_BENCH_RUNS=1 python scripts/probe_registry.py all /root/testdata/sf0.1 testdata_sf1
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_adsbx_spark import queries as registry  # noqa: E402
from etl_adsbx_spark.session import get_spark  # noqa: E402

N_RUNS = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
WARM_DIR = "/root/testdata/sf0.001"


def timed(fn, spark, sf_dir: str, runs: int = N_RUNS) -> float | str:
    """Median wall seconds over ``runs`` complete runs of ``fn(spark,
    sf_dir)``, plan building included, or ``FAIL <type>`` if a run raises."""
    samples = []
    for _ in range(runs):
        t0 = time.perf_counter()
        try:
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        except Exception as ex:  # noqa: BLE001 — record, keep probing
            return f"FAIL {type(ex).__name__}"
        samples.append(time.perf_counter() - t0)
    return round(statistics.median(samples), 3)


def main() -> None:
    if len(sys.argv) < 4:
        sys.exit(__doc__)
    dirs = sys.argv[2:]
    spark = get_spark("etl-adsbx-probe-registry")
    spark.sparkContext.setLogLevel("ERROR")
    qs = registry.queries()
    ops = list(qs) if sys.argv[1] == "all" else sys.argv[1].split(",")
    unknown = [o for o in ops if o not in qs]
    if unknown:
        sys.exit(f"unknown ops: {unknown}")
    out: dict[str, dict] = {}
    for name in ops:
        timed(qs[name], spark, WARM_DIR, runs=1)  # warm-up: codegen + JIT
        row = out[name] = {d: timed(qs[name], spark, d) for d in dirs}
        for i in range(1, len(dirs)):
            lo, hi = row[dirs[i - 1]], row[dirs[i]]
            if isinstance(lo, float) and isinstance(hi, float):
                row[f"ratio_{i}"] = round(hi / max(lo, 0.001), 2)
        print(f"## {name}: {row}", file=sys.stderr, flush=True)
    print(json.dumps({"metric": "probe_registry", "runs": N_RUNS, "queries": out}))


if __name__ == "__main__":
    main()
