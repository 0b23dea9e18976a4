#!/usr/bin/env python3
"""The repo benchmark: one seeded workload per run, closed loop, one client.

    python3 perfbench/run.py --workload crawl_kg --seed 1 --seconds 10 --trace 0

Run from the repository root. The run generates its inputs from the
seed, starts the engine on local[nproc], sets up (session start plus
one untimed, checked warm-up op), then runs ops back to back until the
timed ops add up to --seconds, checking every output. The last stdout line is the
result JSON; the line before it is a report (effective conf, sizes,
sample counts, per-op latencies). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "setup_s": "s",
    "items_per_s": "1/s",
    "latency_p50_s": "s",
    "cpu_s": "s",
}


def _process_start() -> float:
    """This process's start on the time.monotonic() clock (from /proc)."""
    hz = os.sysconf("SC_CLK_TCK")
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.monotonic() - (uptime - start_ticks / hz)


def _cpu_ticks(pid: int) -> int:
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return sum(int(x) for x in fields[11:15])  # utime stime cutime cstime


def engine_cpu_s(jvm_pid: int) -> float:
    """CPU seconds of the driver process plus the Spark JVM and every
    process under it (the Python workers), from /proc. Reaped children
    stay counted through their parent's cutime/cstime."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
    tree, frontier = [jvm_pid], [jvm_pid]
    while frontier:
        frontier = [p for p, pp in parent.items() if pp in frontier]
        tree += frontier
    total = 0
    for p in tree:
        try:
            total += _cpu_ticks(p)
        except OSError:
            continue
    with open("/proc/self/stat") as f:
        own = f.read().rsplit(")", 1)[1].split()
    total += int(own[11]) + int(own[12])  # the driver's own utime + stime
    return total / os.sysconf("SC_CLK_TCK")


def start_engine(work: str, nproc: int, trace: bool):
    from ontoemma_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "local"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData "
            f"-Dderby.system.home={os.path.join(work, 'derby')}"
        ),
    }
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + events,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(app_name="perfbench", master=f"local[{nproc}]", extra_conf=conf)


def stop_engine(spark) -> None:
    """Stop the session, then the JVM behind it, and wait for it to exit."""
    from pyspark import SparkContext

    try:
        spark.stop()
    finally:
        gw = SparkContext._gateway
        if gw is not None:
            with contextlib.suppress(Exception):  # the JVM may be gone already
                gw.shutdown()
            gw.proc.stdin.close()
            try:
                gw.proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                gw.proc.kill()
                gw.proc.wait()
            SparkContext._gateway = SparkContext._jvm = None


def effective_conf(spark) -> dict:
    c = spark.sparkContext.getConf()
    keys = [
        "spark.master", "spark.driver.memory", "spark.sql.shuffle.partitions",
        "spark.sql.adaptive.enabled", "spark.sql.autoBroadcastJoinThreshold",
        "spark.ui.showConsoleProgress", "spark.sql.warehouse.dir",
        "spark.eventLog.enabled", "spark.eventLog.compress",
    ]
    out = {k: c.get(k, None) for k in keys}
    out["spark.sql.shuffle.partitions"] = spark.conf.get("spark.sql.shuffle.partitions")
    out["defaultParallelism"] = spark.sparkContext.defaultParallelism
    out["spark.version"] = spark.version
    return out


def isolate(spark) -> int:
    """Drop every cache the previous op left; returns how many persisted
    RDDs it found. Raises if any survive."""
    sc = spark.sparkContext
    spark.catalog.clearCache()
    left = list(sc._jsc.getPersistentRDDs().values())
    for rdd in left:
        rdd.unpersist(True)
    if sc._jsc.getPersistentRDDs().size():
        raise RuntimeError("persisted RDDs remain after clearing caches")
    return len(left)


class Loop:
    """Closed loop, one client: each op starts when the last one ended."""

    def __init__(self, wl, spark, jvm_pid: int, corrupt: bool, tracer=None):
        self.wl, self.spark, self.jvm_pid = wl, spark, jvm_pid
        self.corrupt, self.tracer = corrupt, tracer
        self.ops: list[dict] = []
        self.counts: dict[str, float] = {}

    def run(self, seconds: float) -> None:
        """Ops until the timed ops add up to `seconds` (at least one)."""
        while not self.ops or sum(o["wall_s"] for o in self.ops) < seconds:
            self.one(len(self.ops))

    def one(self, k: int) -> None:
        wl = self.wl
        cpu0 = engine_cpu_s(self.jvm_pid)
        t0 = time.time()
        err, items, out = None, 0, None
        try:
            items, out = wl.op(k)
        except Exception as e:  # a failed op is counted, not fatal
            err = f"{type(e).__name__}: {e}"
            traceback.print_exc(file=sys.stderr)
            if self.tracer is not None:
                self.tracer.captured.clear()
        t1 = time.time()
        cpu1 = engine_cpu_s(self.jvm_pid)
        if err is None:
            try:
                if self.tracer is not None:
                    self.tracer.measure_captured()
                    for key, v in wl.trace_counts(out).items():
                        self.counts[key] = self.counts.get(key, 0) + v
                wl.collect(out)
                if self.corrupt and out.rows:
                    out.rows = out.rows[:-1]  # one dropped row
                err = wl.check(k, out)
            except Exception as e:
                err = f"check raised {type(e).__name__}: {e}"
                traceback.print_exc(file=sys.stderr)
        leaked = isolate(self.spark)
        if err:
            print(f"perfbench: {wl.name} op {k} failed: {err}", file=sys.stderr)
        wall = t1 - t0
        self.ops.append({
            "k": k, "wall_s": wall, "start": t0, "end": t1,
            "items_wall_s": out.items_wall_s if out and out.items_wall_s else wall,
            "latency_s": out.latency_s if out and out.latency_s else wall,
            "cpu_s": cpu1 - cpu0, "items": items if err is None else 0,
            "ok": err is None, "leaked_rdds": leaked,
        })

    def summary(self) -> dict:
        ops = self.ops
        lat = [o["latency_s"] for o in ops]
        return {
            "items_per_s": sum(o["items"] for o in ops) / sum(o["items_wall_s"] for o in ops),
            "latency_p50_s": statistics.median(lat),
            "latency_samples": len(lat),
            "cpu_s": sum(o["cpu_s"] for o in ops) / len(ops),
        }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: the self-test size")
    ap.add_argument("--corrupt-output", action="store_true",
                    help="drop one output row before each check (self-test)")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "ontoemma_spark", "__init__.py")):
        print(f"perfbench: no ontoemma_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    proc_start = _process_start()
    # a terminated run still stops its engine and deletes its scratch dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    for d in ("tmp", "local", "input"):
        os.makedirs(os.path.join(work, d))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # the launcher JVM that spark-submit starts first writes here too
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    spark = None
    try:
        wl = WORKLOADS[args.workload](args.seed, os.path.join(work, "input"), args.size)
        t = time.monotonic()
        wl.generate()
        gen_s = time.monotonic() - t

        spark = start_engine(work, nproc, bool(args.trace))
        jvm_pid = spark.sparkContext._gateway.proc.pid
        wl.bind(spark)
        isolate(spark)
        # one checked, untimed op (crawl_kg: the full build): it pays class
        # loading and the first code generation of the plans the timed ops run
        t = time.monotonic()
        err = wl.warm_up()
        warm_s = time.monotonic() - t
        isolate(spark)
        if err:
            raise RuntimeError(f"warm-up op failed: {err}")
        setup_s = time.monotonic() - proc_start - gen_s

        report = {
            "workload": wl.name, "seed": args.seed, "size": args.size,
            "item": wl.item, "inputs": wl.info, "gen_s": gen_s,
            "conf": effective_conf(spark),
            "warm_up_wall_s": round(warm_s, 4),
        }
        tracer = None
        if args.trace:
            from spans import Tracer

            tracer = Tracer(spark)
            tracer.install()
        loop = Loop(wl, spark, jvm_pid, args.corrupt_output, tracer)
        loop.run(args.seconds)
        if tracer is not None:
            tracer.uninstall()
        stop_engine(spark)
        spark = None

        ops = loop.ops
        attempted, failed = len(ops), sum(not o["ok"] for o in ops)
        summary = loop.summary()
        report["latency_samples"] = summary["latency_samples"]
        if tracer is not None:
            from spans import per_layer_names

            metrics = tracer.profile(
                os.path.join(work, "events"),
                [(o["start"], o["end"]) for o in ops],
                loop.counts, summary["items_per_s"],
            )
            units = dict(per_layer_names())
            report["spans"] = len(tracer.spans)
        else:
            metrics = {"setup_s": setup_s, **{k: summary[k] for k in END_TO_END if k != "setup_s"}}
            units = END_TO_END
        report["ops"] = [
            {k: (round(v, 4) if isinstance(v, float) else v) for k, v in o.items()
             if k not in ("start", "end")} for o in ops
        ]
        report["setup_s"] = setup_s
        print(json.dumps({"perfbench_report": report}, sort_keys=True, default=str))
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }))
        return 0
    finally:
        try:
            if spark is not None:
                stop_engine(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
            parent = os.path.dirname(work)
            if os.path.isdir(parent) and not os.listdir(parent):
                os.rmdir(parent)


if __name__ == "__main__":
    sys.exit(main())
