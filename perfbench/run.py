"""Benchmark entry point for the spark-graft engine.

    python3 perfbench/run.py --workload olap --seed 1 --seconds 8 --trace 0

One client runs one operation at a time on ``local[<cpus>]`` (closed loop).
A run starts the session, makes one untimed pass that checks every
operation's output (and, for query workloads, one untimed warm-up pass),
then repeats timed passes until ``--seconds`` have elapsed (at least one).
The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the run records spans
around every layer call, turns the Spark event log on, and reports the
per-layer metrics instead (see README.md beside this file).

Everything the run writes lives under ``.perfbench_run/<pid>`` in the
checkout and is deleted when the run ends. The input is the engine's
default dataset, ``catalog.DEFAULT_SF_DIR`` (``SPARK_GRAFT_SF_DIR``).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

from workloads import (
    LAKE_FORMATS,
    LAKE_STEPS,
    QUERY_OPS,
    WORKLOADS,
    Ctx,
    LakeCycle,
    LakePlan,
    QueryOp,
    footprint,
    open_duck,
)

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CLK_TCK = os.sysconf("SC_CLK_TCK")
MB = 1 << 20
NO_PERF_DATA = "-XX:-UsePerfData"
# The JVM heap starts at its maximum: with the engine's 8 GiB default, or a
# 2 GiB maximum alone, heap sizing made peak RSS swing by a fifth between
# identical runs.
HEAP = "2g"


# ---------------------------------------------------------------- /proc


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm may hold spaces; the fields after it are space-separated
    return [raw[: raw.index(" ")], raw[raw.index("(") + 1 : raw.rindex(")")]] + raw[
        raw.rindex(")") + 2 :
    ].split()


def process_tree() -> dict[int, list[str]]:
    """pid -> stat fields for this process and every descendant. Field 1
    is ``comm``, 3 the parent pid."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit() and (st := _stat(int(name))) is not None:
            stats[int(name)] = st
    tree, todo = {}, [os.getpid()]
    children: dict[int, list[int]] = {}
    for pid, st in stats.items():
        children.setdefault(int(st[3]), []).append(pid)
    while todo:
        pid = todo.pop()
        if pid in stats:
            tree[pid] = stats[pid]
            todo.extend(children.get(pid, ()))
    return tree


def _cpu_s(st: list[str]) -> float:
    # utime + stime + cutime + cstime: a reaped child's time moves into
    # its parent's c-fields, so the tree total never loses it
    return sum(int(x) for x in st[13:17]) / CLK_TCK


def tree_cpu() -> tuple[float, float]:
    """(CPU seconds of the whole tree, of its Python worker processes)."""
    me = os.getpid()
    total = workers = 0.0
    for pid, st in process_tree().items():
        total += _cpu_s(st)
        if pid != me and st[1].startswith("python"):
            workers += _cpu_s(st)
    return total, workers


def tree_hwm_mb() -> float:
    """Summed peak resident set (VmHWM) of the live process tree."""
    kb = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            pass
    return kb / 1024


def process_age_s() -> float:
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - int(_stat(os.getpid())[21]) / CLK_TCK


# ---------------------------------------------------------------- run


def _isolate(scratch: str) -> dict[str, str]:
    """Point every scratch location of the engine, Spark and Python at
    ``scratch``; return the directories made."""
    dirs = {k: os.path.join(scratch, k) for k in ("tmp", "local", "lake", "events", "warehouse")}
    for d in dirs.values():
        os.makedirs(d)
    os.environ["TMPDIR"] = dirs["tmp"]
    tempfile.tempdir = None
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = dirs["local"]
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEMORY"] = HEAP
    # no hsperfdata files under /tmp from the launcher or the driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = NO_PERF_DATA
    # Python workers import the engine's UDF modules by package name
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.chdir(scratch)
    return dirs


def _stop(spark) -> None:
    """Stop the session, end the JVM, and wait for every process it started."""
    from pyspark import SparkContext

    me = os.getpid()
    started = [pid for pid in process_tree() if pid != me]
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits at end of its stdin
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 30
    for pid in started:
        while (st := _stat(pid)) is not None and st[2] != "Z":
            if time.monotonic() > deadline:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, signal.SIGKILL)
                deadline = time.monotonic() + 5
            time.sleep(0.05)


# ---------------------------------------------------------------- passes


class Bench:
    """The closed loop: one client, one operation at a time."""

    def __init__(self, workload: str, ctx: Ctx, seed: int):
        from march_mania_spark_lakehouse_spark.plans import all_queries

        self.ctx = ctx
        self.rng = random.Random(seed)
        self.attempted = self.failed = 0
        self.lat: dict[str, list[float]] = {}
        self.passes: list[dict] = []
        self.hwm_mb = 0.0
        self.ops, self.cycles = [], []
        if workload == "lake_rw":
            plan = LakePlan.from_seed(seed)
            expected = plan.expected(ctx.duck)
            self.cycles = [LakeCycle(fmt, plan, expected) for fmt in LAKE_FORMATS]
        else:
            specs = all_queries()
            self.ops = [QueryOp(specs[name]) for name in QUERY_OPS[workload]]

    def _op(self, span: str, name: str, thunk, timed: bool) -> bool:
        self.attempted += 1
        t = time.perf_counter()
        try:
            with self.ctx.tracer.span(span):
                thunk()
        except Exception:  # a failed operation is counted; the run goes on
            self.failed += 1
            print(f"perfbench: {name} failed", file=sys.stderr)
            traceback.print_exc()
            return False
        if timed:
            self.lat.setdefault(name, []).append(time.perf_counter() - t)
        # Python workers come and go, so sample after every operation
        self.hwm_mb = max(self.hwm_mb, tree_hwm_mb())
        return True

    def one_pass(self, kind: str) -> None:
        """One pass over the workload's operations in a seeded order.
        ``kind`` is "check" (untimed; every query is compared with its
        oracle), "warm" (untimed) or "timed". Lake cycles check their scan
        and change feed on every pass."""
        ctx = self.ctx
        timed = kind == "timed"
        lake = {}
        cpu0, py0 = tree_cpu()
        t0 = time.perf_counter()
        with ctx.tracer.span("pass" if timed else f"pass.{kind}") as span:
            for op in self.rng.sample(self.ops, len(self.ops)):
                self._op("op", op.name, lambda: op.run(ctx, check=kind == "check"), timed)
            for cycle in self.rng.sample(self.cycles, len(self.cycles)):
                table = os.path.join(ctx.lake_dir, f"{cycle.fmt}-{self.attempted}")
                ok = True
                for step, thunk in cycle.steps(ctx, table):
                    if ok:
                        ok = self._op(f"sources.{cycle.fmt}.{step}", f"{cycle.fmt}.{step}", thunk, timed)
                    else:  # the rest of a broken cycle cannot run
                        self.attempted += 1
                        self.failed += 1
                lake[cycle.fmt] = footprint(table)
                shutil.rmtree(table, ignore_errors=True)
        wall = time.perf_counter() - t0
        cpu1, py1 = tree_cpu()
        if timed:
            self.passes.append(
                {"wall": wall, "cpu": cpu1 - cpu0, "py_cpu": py1 - py0, "span": span, "lake": lake}
            )


# ---------------------------------------------------------------- metrics

E2E_UNITS = {"setup_s": "s", "wall_s": "s", "op_p50_s": "s", "cpu_s": "s", "peak_rss_mb": "MB"}

_OPERATOR_FIELDS = {  # per-layer name -> (GroupMetrics field, scale to unit)
    "operators.jobs": ("jobs", 1),
    "operators.stages": ("stages", 1),
    "operators.tasks": ("tasks", 1),
    "operators.jvm_cpu_s": ("cpu_ns", 1e-9),
    "operators.task_run_s": ("run_ms", 1e-3),
    "operators.gc_s": ("gc_ms", 1e-3),
    "operators.shuffle_write_mb": ("shuffle_write_bytes", 1 / MB),
    "operators.shuffle_read_mb": ("shuffle_read_bytes", 1 / MB),
    "operators.spill_mb": ("spill_bytes", 1 / MB),
    "operators.python_boot_s": ("python_boot_ms", 1e-3),
    "operators.python_init_s": ("python_init_ms", 1e-3),
    "operators.python_run_s": ("python_run_ms", 1e-3),
    "operators.python_sent_mb": ("python_sent_bytes", 1 / MB),
    "operators.python_recv_mb": ("python_recv_bytes", 1 / MB),
}


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    return "ratio" if name.endswith("_amp") else "count"


PER_LAYER = [
    "session.start_s",
    "plans.build_s",
    "plans.build_jobs",
    "plans.py4j_calls",
    "operators.exec_s",
    *_OPERATOR_FIELDS,
    "operators.task_overhead_s",
    "operators.python_cpu_s",
    *(f"sources.{fmt}.{step}_s" for fmt in LAKE_FORMATS for step in LAKE_STEPS),
    *(
        f"sources.{fmt}.{c}"
        for fmt in LAKE_FORMATS
        for c in ("py4j_calls", "jobs", "bytes_written_mb", "files")
    ),
    "sources.storage_amp",
    "trace.wall_s",
    "trace.pass_self_s",
    "trace.op_self_s",
]


def end_to_end(b: Bench, setup_s: float) -> dict[str, float]:
    lat = [x for xs in b.lat.values() for x in xs]
    return {
        "setup_s": setup_s,
        "wall_s": statistics.median(p["wall"] for p in b.passes),
        "op_p50_s": statistics.median(lat or [0.0]),
        "cpu_s": statistics.median(p["cpu"] for p in b.passes),
        "peak_rss_mb": b.hwm_mb,
    }


def per_layer(b: Bench, session_s: float, groups: dict, sf_dir: str) -> dict[str, float]:
    """Per-pass means over the timed passes, from the spans and the event log."""
    from eventlog import GroupMetrics

    tracer = b.ctx.tracer
    top: dict[str, str] = {}
    for s in tracer.spans:  # a parent precedes its children
        top[s.id] = top[s.parent] if s.parent else s.id
    timed = {p["span"].id for p in b.passes}
    out = dict.fromkeys(PER_LAYER, 0.0)
    executors = GroupMetrics()
    for s in tracer.spans:
        if top[s.id] not in timed:
            continue
        g = groups.get(s.id, GroupMetrics())
        executors.add(g)
        if s.name == "plans.build":
            out["plans.build_s"] += s.dur
            out["plans.build_jobs"] += g.jobs
            out["plans.py4j_calls"] += s.py4j_calls
        elif s.name == "operators.exec":
            out["operators.exec_s"] += s.dur
        elif s.name.startswith("sources."):
            _, fmt, step = s.name.split(".")
            out[f"sources.{fmt}.{step}_s"] += s.dur
            out[f"sources.{fmt}.py4j_calls"] += s.py4j_calls
            out[f"sources.{fmt}.jobs"] += g.jobs
        elif s.name == "pass":
            out["trace.pass_self_s"] += s.self_time
        elif s.name == "op":
            out["trace.op_self_s"] += s.self_time
    for name, (field, scale) in _OPERATOR_FIELDS.items():
        out[name] = getattr(executors, field) * scale
    out["operators.task_overhead_s"] = (executors.duration_ms - executors.run_ms) / 1e3
    out["operators.python_cpu_s"] = sum(p["py_cpu"] for p in b.passes)
    src_bytes = os.path.getsize(os.path.join(sf_dir, "orders.parquet"))
    for p in b.passes:
        for fmt, (nbytes, nfiles) in p["lake"].items():
            out[f"sources.{fmt}.bytes_written_mb"] += nbytes / MB
            out[f"sources.{fmt}.files"] += nfiles
            out["sources.storage_amp"] += nbytes / src_bytes
    n = len(b.passes)
    out = {k: v / n for k, v in out.items()}
    out["session.start_s"] = session_s
    out["trace.wall_s"] = statistics.median(p["wall"] for p in b.passes)
    return out


def _report(b: Bench, tracer) -> None:
    """Human-readable lines ahead of the result line."""
    walls = " ".join(f"{p['wall']:.3f}" for p in b.passes)
    print(f"passes: {len(b.passes)} timed + {2 if b.ops else 1} untimed; attempted {b.attempted}, failed {b.failed}")
    print(f"  pass walls (s): {walls}")
    for name, xs in sorted(b.lat.items()):
        print(f"  op {name}: n={len(xs)} median={statistics.median(xs):.3f}s")
    if tracer.spans:
        tracer.dump(sys.stdout)
        print("self time per span name (all passes):")
        for name, t in sorted(tracer.self_times().items(), key=lambda kv: -kv[1]):
            print(f"  {name}: {t:.3f}s")


# ---------------------------------------------------------------- main


def bench(args, dirs: dict[str, str], sf_dir: str) -> dict:
    import eventlog
    from spans import OFF, Tracer

    from march_mania_spark_lakehouse_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": dirs["warehouse"],
        "spark.driver.extraJavaOptions": f"-Xms{HEAP} -Djava.io.tmpdir={dirs['tmp']} {NO_PERF_DATA}",
    }
    if args.trace:
        conf |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": dirs["events"],
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    t = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=conf)
    session_s = time.perf_counter() - t
    try:
        tracer = Tracer(spark) if args.trace else OFF
        ctx = Ctx(spark, sf_dir, dirs["lake"], tracer, open_duck(sf_dir))
        b = Bench(args.workload, ctx, args.seed)
        b.one_pass("check")
        if b.ops:
            # the checking pass collected each query; the noop-sink path the
            # timed passes use is still cold. Lake cycles run the same calls
            # on every pass, so their checking pass warms them.
            b.one_pass("warm")
        setup_s = process_age_s()
        t0 = time.perf_counter()
        while not b.passes or time.perf_counter() - t0 < args.seconds:
            b.one_pass("timed")
        ctx.duck.close()
    finally:
        _stop(spark)
    _report(b, tracer)
    if args.trace:
        groups = {}
        for name in os.listdir(dirs["events"]):
            groups.update(eventlog.parse_file(os.path.join(dirs["events"], name)))
        metrics = per_layer(b, session_s, groups, sf_dir)
        units = {k: _unit(k) for k in metrics}
    else:
        metrics = end_to_end(b, setup_s)
        units = E2E_UNITS
    return {
        "correct": b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=8.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # on SIGTERM, unwind through the finally blocks: stop the JVM, clean up
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    scratch = os.path.join(ROOT, ".perfbench_run", str(os.getpid()))
    try:
        dirs = _isolate(scratch)
        sys.path.insert(0, ROOT)
        try:
            from march_mania_spark_lakehouse_spark import catalog
        except ImportError as e:
            print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
            return 2
        sf_dir = catalog.DEFAULT_SF_DIR
        if not os.path.isfile(os.path.join(sf_dir, "orders.parquet")):
            print(f"perfbench: no dataset at {sf_dir}", file=sys.stderr)
            return 2
        result = bench(args, dirs, sf_dir)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(scratch))
        except OSError:
            pass  # another run still uses it
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
