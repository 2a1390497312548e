"""Z-order layout probe (BASELINE.md evidence): at sf0.1, write lineitem
(a) Z-ordered on (l_extendedprice, l_quantity), (b) single-column sorted
on l_extendedprice, (c) unsorted; then for a conjunctive range predicate
selecting ~1% of each dimension, count files a footer-stat reader must
open, and time the filtered scan on each layout. Usage:

    python scripts/zorder_probe.py [sf_dir] [out_dir]
"""

from __future__ import annotations

import glob
import os
import statistics
import sys
import tempfile
import time

import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from etl_adsbx_spark.operators.layout import write_zordered  # noqa: E402
from etl_adsbx_spark.session import get_spark  # noqa: E402
from etl_adsbx_spark.tables import load_table  # noqa: E402

N_FILES = 32
RUNS = 3


def file_ranges(path: str, col: str):
    out = []
    for f in sorted(glob.glob(f"{path}/*.parquet")):
        md = pq.ParquetFile(f).metadata
        fmin = fmax = None
        for rg in range(md.num_row_groups):
            for ci in range(md.num_columns):
                cmd = md.row_group(rg).column(ci)
                if cmd.path_in_schema == col and cmd.statistics is not None:
                    s = cmd.statistics
                    fmin = s.min if fmin is None else min(fmin, s.min)
                    fmax = s.max if fmax is None else max(fmax, s.max)
        out.append((f, fmin, fmax))
    return out


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out_dir = sys.argv[2] if len(sys.argv) > 2 else tempfile.mkdtemp(prefix="zorder_probe_")
    spark = get_spark("zorder-probe")
    spark.sparkContext.setLogLevel("ERROR")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_quantity", "l_shipdate"
    )

    def timed(fn):
        ts = []
        for _ in range(RUNS):
            t0 = time.monotonic()
            fn()
            ts.append(time.monotonic() - t0)
        return statistics.median(ts)

    zpath, spath, upath = f"{out_dir}/z", f"{out_dir}/s", f"{out_dir}/u"
    tz = timed(lambda: write_zordered(li, zpath, ["l_extendedprice", "l_quantity"], num_files=N_FILES))
    tsrt = timed(
        lambda: li.repartitionByRange(N_FILES, "l_extendedprice")
        .sortWithinPartitions("l_extendedprice")
        .write.mode("overwrite")
        .parquet(spath)
    )
    tu = timed(lambda: li.repartition(N_FILES).write.mode("overwrite").parquet(upath))
    print(f"write sec (median of {RUNS}): zorder={tz:.3f} sorted={tsrt:.3f} unsorted={tu:.3f}")

    # ~10% box on each dim => ~1% of rows for independent dims
    lo_p, hi_p, lo_q, hi_q = li.agg(
        F.min("l_extendedprice"), F.max("l_extendedprice"),
        F.min("l_quantity"), F.max("l_quantity"),
    ).first()
    boxes = {
        "both-dims 10%x10%": (lo_p, lo_p + 0.1 * (hi_p - lo_p), lo_q, lo_q + 0.1 * (hi_q - lo_q)),
        "quantity-only 10%": (lo_p, hi_p, lo_q, lo_q + 0.1 * (hi_q - lo_q)),
    }
    for box_name, (p_lo, p_hi, q_lo, q_hi) in boxes.items():
        print(f"predicate box: {box_name}")
        for name, path in [("zorder", zpath), ("sorted", spath), ("unsorted", upath)]:
            pr = file_ranges(path, "l_extendedprice")
            qr = file_ranges(path, "l_quantity")
            open_files = sum(
                1
                for (f, pmin, pmax), (_, qmin, qmax) in zip(pr, qr)
                if pmin <= p_hi and pmax >= p_lo and qmin <= q_hi and qmax >= q_lo
            )
            t = timed(
                lambda p=path: spark.read.parquet(p)
                .filter(
                    (F.col("l_extendedprice").between(p_lo, p_hi))
                    & (F.col("l_quantity").between(q_lo, q_hi))
                )
                .agg(F.count("*"), F.sum("l_extendedprice"))
                .collect()
            )
            print(
                f"  {name:9s}: files_intersecting_box={open_files}/{len(pr)}  "
                f"filtered_scan_sec={t:.3f}"
            )


if __name__ == "__main__":
    main()
