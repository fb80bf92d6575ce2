"""Delta DELETE write-path probe: show the deletion-vector BUILD is
free of driver-side O(deleted rows) terms — the write-side mirror of
the read-path fix PERF.md documents for `_dv_tombstones`.

Protocol: publish the sf0.1 orders fixture as a Delta table at 1× and
at K× (offset copies — K× more rows, K× more matched rows per DELETE),
run `delete_where` matching ~10% of rows on each, and record

- wall time (ratio ≤ K means at-worst-linear — the delete scans the
  table once by design; the claim under test is the DRIVER term, not
  the scan),
- the DELETE's deleted-row count (from descriptor cardinalities — also
  cross-checks the commit), and
- the driver's ru_maxrss HIGH-WATER growth across the K× delete. The
  K× table is above `dv_codec.SMALL_DV_ROWS`, so its DELETE encodes on
  executors and the growth stays flat (the driver sees one compact
  descriptor row per touched file); collecting 6M positions to the
  driver instead grows it by hundreds of MB. The 1× table (150k rows)
  is under the gate and encodes on the driver.

Usage: python tools/dv_write_probe.py [--k K]
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import resource
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from march_mania_spark_lakehouse_spark import catalog  # noqa: E402
from march_mania_spark_lakehouse_spark.session import get_spark  # noqa: E402
from march_mania_spark_lakehouse_spark.sources import delta_log  # noqa: E402

SMALL = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    ".scale_test", "dv_write",
)
STRIDE = 10_000_000


def _maxrss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def _publish(spark, k: int, path: str) -> None:
    base = catalog.load(spark, "orders", SMALL)
    copies = None
    for i in range(k):
        c = base.withColumn("o_orderkey", F.col("o_orderkey") + F.lit(i * STRIDE))
        copies = c if copies is None else copies.unionByName(c)
    # several files so the DELETE touches many (the per-task sidecar
    # fan-out under test)
    delta_log.create(copies.repartition(max(8, 2 * k // 3)), path)


def _deleted_rows(table: str) -> int:
    live = delta_log._replay(table, delta_log.latest_version(table))
    return sum(
        (a.get("deletionVector") or {}).get("cardinality", 0)
        for a in live.values()
    )


def main() -> None:
    k = 100
    if "--k" in sys.argv:
        k = int(sys.argv[sys.argv.index("--k") + 1])
    if os.path.isdir(ROOT):
        shutil.rmtree(ROOT)
    spark = get_spark("dv_write_probe")
    spark.sparkContext.setLogLevel("ERROR")
    out: dict = {"k": k}
    for label, kk in (("1x", 1), (f"{k}x", k)):
        t = os.path.join(ROOT, label)
        _publish(spark, kk, t)
        rss0 = _maxrss_mb()
        t0 = time.perf_counter()
        delta_log.delete_where(spark, t, "o_orderkey % 10 = 3")
        dt = time.perf_counter() - t0
        out[label] = {
            "delete_sec": round(dt, 3),
            "deleted_rows": _deleted_rows(t),
            "driver_maxrss_growth_mb": round(_maxrss_mb() - rss0, 1),
        }
    out["time_ratio"] = round(
        out[f"{k}x"]["delete_sec"] / max(out["1x"]["delete_sec"], 1e-9), 2
    )
    out["rows_ratio"] = round(
        out[f"{k}x"]["deleted_rows"] / max(out["1x"]["deleted_rows"], 1), 2
    )
    print(json.dumps(out, separators=(",", ":")))
    spark.stop()
    shutil.rmtree(ROOT, ignore_errors=True)


if __name__ == "__main__":
    main()
