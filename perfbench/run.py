#!/usr/bin/env python3
"""Engine benchmark: one workload per invocation, outputs checked, one JSON
result as the last line of stdout.

    python3 perfbench/run.py --workload solve --seed 1 --seconds 15 --trace 0

Workloads: solve, communities (see perfbench/README.md). ``--trace 1``
records a span around every engine call and reports per-layer metrics
instead of end-to-end ones. Everything the run writes goes under
``.perfbench_work/`` at the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"
WORKLOAD_NAMES = ("solve", "communities")
SETUP_REPS = 2  # warm set-ups per run; setup_s is their median


def parse_args(argv=None):
    p = argparse.ArgumentParser(prog="perfbench")
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=15.0,
                   help="round time to measure; at least one round always runs")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def driver_memory() -> str:
    """A quarter of the box's memory, capped at 3 GiB."""
    with open("/proc/meminfo") as f:
        total_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return f"{min(total_kb // 4096, 3072)}m"


def cpu_steal() -> tuple[int, int]:
    """(total, steal) jiffies of the aggregate cpu line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals[:8]), vals[7] if len(vals) > 7 else 0


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


class Context:
    def __init__(self, args, tracer, run_dir: Path):
        self.seed = args.seed
        self.tracer = tracer
        self.cpu = CpuClock()
        self.work = str(WORK)
        self.run_dir = str(run_dir)


def start_session(nproc: int, run_dir: Path):
    from pagerank_project_spark.session import get_spark

    conf = {
        "spark.driver.memory": driver_memory(),
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
        "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }
    return get_spark(app_name="perfbench", cores=nproc, shuffle_partitions=nproc, extra_conf=conf)


def jvm_pid(spark) -> int:
    return spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()


def jvm_peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM"))
    return kb / 1024.0


class CpuClock:
    """CPU seconds (user + system) used so far by this process and the Spark
    JVM, all of its threads.

    CPU time leaves out the time the host gives to other guests, which moves
    wall-clock times by tens of percent from run to run. The JIT compiler
    threads stay in: after the warm-up they still use over a third of a
    round's CPU, and code the JIT has not compiled yet runs slower instead,
    so the sum varies less between runs than either part."""

    TICK = os.sysconf("SC_CLK_TCK")

    def __init__(self):
        self.pid = None

    def __call__(self) -> float:
        jvm = 0.0
        if self.pid is not None:
            with open(f"/proc/{self.pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            jvm = (int(fields[11]) + int(fields[12])) / self.TICK  # utime, stime
        return time.process_time() + jvm


def shutdown(spark) -> None:
    """Stop Spark and wait for the JVM the session launched to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def run(args) -> int:
    if not (ROOT / "pagerank_project_spark" / "__init__.py").is_file():
        print("perfbench: the engine package pagerank_project_spark is not next to perfbench/",
              file=sys.stderr)
        return 2
    nproc = len(os.sched_getaffinity(0))
    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    run_dir = WORK / "runs" / run_id
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("spark-local", "tmp"):
        (run_dir / sub).mkdir(parents=True)
    # keep Spark's scratch space, the JVM's temp files and Python's temp
    # files inside the work dir; the JVM inherits this environment
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    os.environ["TMPDIR"] = str(run_dir / "tmp")
    sys.path.insert(0, str(ROOT))

    import metrics
    import workloads
    from tracing import Tracer

    tracer = Tracer(bool(args.trace), run_id)
    ctx = Context(args, tracer, run_dir)

    t0 = time.perf_counter()
    wl = workloads.WORKLOADS[args.workload](ctx)
    t_fix = time.perf_counter()
    wl.prepare()
    oracle_s = time.perf_counter() - t_fix
    fixture_s = t_fix - t0

    steal0, load0 = cpu_steal(), loadavg()
    spark = None
    setup_secs: list[float] = []
    try:
        # JVM launch and one short pass of the workload's calls: Spark
        # compiles its plans once here, so no set-up or round pays for it
        t_cold = time.perf_counter()
        with tracer.span("session.start"):
            spark = start_session(nproc, run_dir)
        ctx.cpu.pid = jvm_pid(spark)
        tracer.bind(spark.sparkContext)
        with tracer.span("bench.warmup"):
            wl.warm(spark)
        cold_s = time.perf_counter() - t_cold
        setup_cpu: list[float] = []
        for rep in range(SETUP_REPS):
            t_rep, c_rep = time.perf_counter(), ctx.cpu()
            with tracer.span("bench.setup", rep=rep):
                tracer.bind(None)
                spark.stop()
                with tracer.span("session.restart"):
                    spark = start_session(nproc, run_dir)
                tracer.bind(spark.sparkContext)
                wl.load(spark)
            setup_secs.append(time.perf_counter() - t_rep)
            setup_cpu.append(ctx.cpu() - c_rep)

        rounds: list[dict] = []
        spent = 0.0
        while not rounds or spent + rounds[-1]["secs"] <= args.seconds:
            t_round = time.perf_counter()
            try:
                rec = wl.op(spark, len(rounds))
            except Exception as exc:  # a failed round is counted, not fatal
                print(f"perfbench: {wl.name} round {len(rounds)} failed: {exc!r}", file=sys.stderr)
                rec = {"secs": time.perf_counter() - t_round, "cpu_s": 0.0, "error": repr(exc),
                       "checks": [(c, False) for c in wl.checks]}
            rec["round"] = len(rounds)
            rounds.append(rec)
            spent += rec["secs"]
        peak_rss_mb = jvm_peak_rss_mb(ctx.cpu.pid)
    finally:
        if spark is not None:
            shutdown(spark)
    steal1, load1 = cpu_steal(), loadavg()

    host = {
        "loadavg_start": load0,
        "loadavg_end": load1,
        "steal_frac": (steal1[1] - steal0[1]) / max(1, steal1[0] - steal0[0]),
        "nproc": nproc,
    }
    result, report = metrics.summarize(wl, args, rounds, setup_secs, setup_cpu, tracer,
                                       peak_rss_mb, WORK)
    report.update(fixture_s=fixture_s, oracle_s=oracle_s, cold_start_s=cold_s, host=host)
    if tracer.enabled:
        (WORK / "spans").mkdir(parents=True, exist_ok=True)
        tracer.dump(str(WORK / "spans" / f"{run_id}.jsonl"))
    shutil.rmtree(run_dir, ignore_errors=True)
    if result is None:
        print(json.dumps({"report": report}))
        print("perfbench: no round succeeded; no result", file=sys.stderr)
        return 1
    print(json.dumps({"report": report}))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(run(parse_args()))
