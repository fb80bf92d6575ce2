"""Task-metrics probe: run a query's noop sink N times and report the
SUMMED executor task metrics per sample (run/CPU/GC time, Python-worker
time, shuffle and spill bytes, task/stage/job counts), read from the
Spark event log by `perfbench/eventlog.py` — the parser the benchmark
and `bench.py` use, which attributes each stage once, to the job group
that submitted it.

Why this exists (optimization round 13): wall-clock on this host swings
±50 % run-to-run AND the sandbox provides ~16 effective cores while
advertising 32 (32 concurrent 1 s CPU spins take ~1.96 s wall), so
"Executor Run Time" sits at ~2× "Executor CPU Time" on every
CPU-saturated stage with zero GC and zero fetch wait. Task metrics are
the noise-immune instrument the guide's §1 empirical loop needs here:
CPU time, shuffle bytes and job/stage counts track the PLAN, not the
neighbor's compile job.

Usage:
  PYTHONPATH=<tree> python tools/metric_probe.py <qshort> [samples]

Compare two trees by running once per tree (same host, back to back):
  PYTHONPATH=/tmp/r12tree python tools/metric_probe.py q83
  PYTHONPATH=.           python tools/metric_probe.py q83
"""

from __future__ import annotations

import os
import sys
import time

# after PYTHONPATH, so the tree under test still supplies the engine
sys.path.append(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.eventlog import GroupMetrics, parse_file  # noqa: E402


def main() -> None:
    qshort = sys.argv[1]
    samples = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    from march_mania_spark_lakehouse_spark.plans import all_queries
    from march_mania_spark_lakehouse_spark.session import get_spark

    logdir = f"/tmp/eventlogs_{os.getpid()}"
    os.makedirs(logdir, exist_ok=True)
    spark = get_spark(
        "metric_probe",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": logdir,
            "spark.eventLog.compress": "false",
            # one event file, <logdir>/<app id>, as perfbench/run.py does
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    specs: dict = {}
    for n, s in all_queries().items():
        if not s.bench:
            continue
        short = n.split("_", 1)[0]
        assert short not in specs, f"ambiguous short query name {short!r}"
        specs[short] = s
    spec = specs[qshort]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    def run(tag: str) -> float:
        spark.sparkContext.setJobGroup(tag, tag)
        t0 = time.perf_counter()
        spec.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
        spark.sparkContext.setJobGroup("idle", "idle")
        return wall

    run("warmup")  # JIT + fixture publish; excluded from the metrics below
    walls = [run(f"m{i}") for i in range(samples)]
    app_id = spark.sparkContext.applicationId
    spark.stop()  # flush the event log
    time.sleep(1)

    groups = parse_file(os.path.join(logdir, app_id))

    print(f"{'group':8s} {'wall_s':>7s} {'run_s':>8s} {'cpu_s':>8s} "
          f"{'gc_s':>6s} {'py_boot':>7s} {'py_init':>7s} {'py_run':>7s} "
          f"{'shMB':>7s} {'spillMB':>7s} {'tasks':>6s} {'stages':>6s} "
          f"{'jobs':>5s}")
    for i in range(samples):
        g = groups.get(f"m{i}", GroupMetrics())
        print(f"m{i:<7d} {walls[i]:7.2f} {g.run_ms/1e3:8.2f} "
              f"{g.cpu_ns/1e9:8.2f} {g.gc_ms/1e3:6.2f} "
              f"{g.python_boot_ms/1e3:7.2f} {g.python_init_ms/1e3:7.2f} "
              f"{g.python_run_ms/1e3:7.2f} "
              f"{(g.shuffle_read_bytes + g.shuffle_write_bytes)/1e6:7.1f} "
              f"{g.spill_bytes/1e6:7.1f} "
              f"{g.tasks:6d} {g.stages:6d} {g.jobs:5d}")


if __name__ == "__main__":
    main()
