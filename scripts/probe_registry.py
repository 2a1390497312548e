"""Generic registry scale probe: time any registered queries across any
list of SF dirs and print one JSON line with per-op medians plus the
ratio between consecutive dirs — the shared harness behind BASELINE.md's
scaling tables.

Usage:
    python scripts/probe_registry.py <op1,op2,...> <dir1> <dir2> [dir3 ...]

Dirs should be ordered smallest → largest; `ratio_<i>` is
median(dir[i]) / median(dir[i-1]).
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


def main() -> None:
    if len(sys.argv) < 4:
        sys.exit(__doc__)
    ops = sys.argv[1].split(",")
    dirs = sys.argv[2:]
    spark = get_spark("etl-adsbx-probe-registry")
    qs = registry.queries()
    unknown = [o for o in ops if o not in qs]
    if unknown:
        sys.exit(f"unknown ops: {unknown}")
    for name in ops:  # warm-up: codegen + JIT at the smallest SF
        qs[name](spark, "/root/testdata/sf0.001").count()
    out: dict[str, dict] = {}
    for sf_dir in dirs:
        for name in ops:
            times = []
            for _ in range(N_RUNS):
                t0 = time.time()
                qs[name](spark, sf_dir).count()
                times.append(time.time() - t0)
            out.setdefault(name, {})[sf_dir] = round(statistics.median(times), 3)
    for name, row in out.items():
        for i in range(1, len(dirs)):
            row[f"ratio_{i}"] = round(row[dirs[i]] / row[dirs[i - 1]], 2)
    print(json.dumps({"metric": "probe_registry", "runs": N_RUNS, "queries": out}))


if __name__ == "__main__":
    main()
