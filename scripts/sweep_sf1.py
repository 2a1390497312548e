"""Full-registry sf1 sweep (round-9 verdict item 7): run EVERY registered
query once at sf0.1 and once at sf1 (testdata_sf1 — 10× replication of
sf0.1, group structure preserved) and print per-query decade ratios, so
outliers beyond the expected ~linear shape get a row in BASELINE.md. The
decade probes of earlier rounds covered ~45 keys cumulatively; this is
the all-keys pass (the sf0.1 sweep discipline, SURVEY §5).

One timed run per (query, SF) after a shared sf0.001 warm-up pass — this
is an OUTLIER SCREEN (>3× flags), not an anchor table; the 3-run-median
protocol stays with scripts/probe_registry.py.

Usage: python scripts/sweep_sf1.py [out_json]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from etl_adsbx_spark import queries as registry  # noqa: E402
from etl_adsbx_spark.session import get_spark  # noqa: E402

BASE = "/root/testdata/sf0.1"
TARGET = "testdata_sf1"
WARM = "/root/testdata/sf0.001"

# Projection-only queries: count() lets Catalyst prune
# the measured expression — force through a 1-row sum instead.
FORCE_COL = {"ewma_smooth": "ewma", "readability_scores": "flesch_ease"}


def run_df(df, force_col):
    if force_col is not None:
        df.agg(F.sum(force_col)).collect()
    else:
        df.count()


def main() -> None:
    out_path = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sweep_sf1.json"
    spark = get_spark("sweep-sf1")
    spark.sparkContext.setLogLevel("ERROR")
    qs = registry.queries()
    results: dict[str, dict] = {}
    for name, fn in qs.items():
        run_df(fn(spark, WARM), FORCE_COL.get(name))  # warm codegen
        row: dict = {}
        for label, sf_dir in (("sf0.1", BASE), ("sf1", TARGET)):
            t0 = time.perf_counter()
            try:
                run_df(fn(spark, sf_dir), FORCE_COL.get(name))
                row[label] = round(time.perf_counter() - t0, 2)
            except Exception as ex:  # noqa: BLE001 — record, keep sweeping
                row[label] = f"FAIL {type(ex).__name__}"
        if isinstance(row.get("sf0.1"), float) and isinstance(row.get("sf1"), float):
            row["ratio"] = round(row["sf1"] / max(row["sf0.1"], 0.01), 2)
        results[name] = row
        print(f"{name:28s} {row}", flush=True)
    with open(out_path, "w") as fh:
        json.dump(results, fh, indent=1, sort_keys=True)
    flagged = {n: r for n, r in results.items()
               if isinstance(r.get("ratio"), float) and r["ratio"] > 3.0}
    print("FLAGGED (>3x/decade):", json.dumps(flagged, sort_keys=True))


if __name__ == "__main__":
    main()
