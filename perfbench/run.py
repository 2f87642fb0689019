"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload from the root of a source checkout: generates its
inputs from the seed (cached under ``.perfbench_work/cache``, never
timed), starts the program's Spark session pinned to this host,
publishes the base snapshots, then runs operations for ``--seconds``
seconds, and at least the workload's ``min_ops``, and checks every one
against ground truth. Prints a detail
line (every named metric with its unit, provenance, errors) and, as
the last line, the result object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json;
``--trace 1`` is a separate traced run that reports the per-layer
metrics and writes its spans to ``.perfbench_work/spans-<workload>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def process_age_s() -> float:
    """Seconds since this process started (from /proc)."""
    with open("/proc/self/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the host's CPUs so far, from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def host_facts() -> dict:
    with open("/proc/meminfo") as fh:
        mem_kb = int(next(line for line in fh if line.startswith("MemTotal")).split()[1])
    try:
        sha = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        ).stdout.strip() or "unknown (not a git checkout)"
    except (OSError, subprocess.SubprocessError):
        sha = "unknown (not a git checkout)"
    return {"cores": len(os.sched_getaffinity(0)), "mem_gb": round(mem_kb / 2**20, 1), "git_sha": sha}


def pin_environment(work: str, facts: dict) -> dict:
    """Size Spark to this host and keep every file it writes inside the
    checkout. Must run before pyspark is imported."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(facts["cores"]),
        # a quarter of the host, capped: the default 16g does not fit a shared 15 GB host
        "SPARK_GRAFT_DRIVER_MEM": f"{max(1, min(4, int(facts['mem_gb'] // 4)))}g",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # no hsperfdata file under the system /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    }
    os.environ.update(env)
    return env


class RssMonitor:
    """Peak resident memory of this process tree (driver JVM and Python
    workers included), sampled from /proc."""

    def __init__(self, interval: float = 0.2) -> None:
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._run, name="rss-monitor", daemon=True)

    def _tree_rss(self) -> int:
        me = os.getpid()
        parent = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as fh:
                    parent[int(name)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
        tree, frontier = {me}, [me]
        while frontier:
            p = frontier.pop()
            kids = [c for c, pp in parent.items() if pp == p and c not in tree]
            tree.update(kids)
            frontier.extend(kids)
        total = 0
        for pid in tree:
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * self._page
            except (OSError, ValueError, IndexError):
                continue
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self._tree_rss())
            self._stop.wait(self.interval)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_bytes = max(self.peak_bytes, self._tree_rss())


def stop_spark(spark) -> None:
    """Stop the session and wait for the gateway JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        spark.stop()
    finally:
        if gw is not None:
            try:
                gw.shutdown()
            except Exception:  # noqa: BLE001 - best effort; the wait below decides
                pass
        if proc is not None:
            try:
                proc.stdin.close()  # the gateway exits when its stdin closes
            except OSError:
                pass
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the program lives beside this directory; refuse to run without it
    if not os.path.isdir(os.path.join(ROOT, "annotation_service_spark")) or not os.path.exists(
        os.path.join(ROOT, "__spark_entry__.py")
    ):
        print("perfbench: program sources not found next to perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    from perfbench import report
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    facts = host_facts()
    work_root = os.path.join(ROOT, ".perfbench_work")
    run_dir = os.path.join(work_root, f"run-{os.getpid()}")
    cache_dir = os.path.join(work_root, "cache")
    os.makedirs(run_dir, exist_ok=True)
    env = pin_environment(run_dir, facts)
    monitor = RssMonitor()
    monitor.start()

    tracer = None
    if args.trace:
        from perfbench.trace import Tracer

        tracer = Tracer()
        report.install_wrappers(tracer)
        now = time.perf_counter()
        tracer.add_span("process.start", now - process_age_s(), now)
    from perfbench.workloads import NullTracer

    tr = tracer or NullTracer()
    wl = WORKLOADS[args.workload](None, run_dir, cache_dir, args.seed, tr)
    t0 = time.perf_counter()
    with tr.span("prepare"):
        wl.prepare()
    prepare_s = time.perf_counter() - t0

    from annotation_service_spark import session as session_mod

    spark = None
    try:
        t0 = time.perf_counter()
        spark = session_mod.get_session("perfbench", shuffle_partitions=facts["cores"])
        session_s = time.perf_counter() - t0
        if tracer:
            tracer.spark = spark
        wl.spark = spark
        t0 = time.perf_counter()
        wl.setup()
        tr.harvest()
        publish_s = time.perf_counter() - t0
        setup_s = process_age_s() - prepare_s

        first_warm_span = len(tracer.spans) if tracer else 0
        warm = [wl.step() for _ in range(wl.warmup_ops)]
        tr.harvest()
        if tracer:
            for s in tracer.spans[first_warm_span:]:
                if s.parent is None and s.name.startswith("op."):
                    s.attrs["warmup"] = True
        if hasattr(wl, "start_load"):
            wl.start_load()
        ops = []
        overhead_begin = tracer.overhead_s if tracer else 0.0
        steal_begin, ticks_begin = cpu_ticks()
        t_begin = time.perf_counter()
        deadline = t_begin + args.seconds
        while True:
            try:
                op = wl.step()
            except Exception as exc:  # noqa: BLE001 - a raised operation counts as failed
                from perfbench.workloads import Op

                op = Op(0.0, 0, False, f"{type(exc).__name__}: {str(exc)[:300]}")
            ops.append(op)
            tr.harvest()
            if tracer:
                report.sample_caches(tracer, spark)
            if time.perf_counter() >= deadline and len(ops) >= wl.min_ops:
                break
        measured_s = time.perf_counter() - t_begin
        steal_end, ticks_end = cpu_ticks()
        facts["cpu_steal_share_timed"] = (steal_end - steal_begin) / max(1, ticks_end - ticks_begin)
        timed_overhead_s = (tracer.overhead_s if tracer else 0.0) - overhead_begin
        if hasattr(wl, "stop_load"):
            wl.stop_load()
            tr.harvest()
        monitor.stop()  # before the checks: the oracle's memory is not the program's
        if hasattr(wl, "finish"):
            with tr.span("check"):
                wl.finish()
        result = report.build(
            args, wl, ops, warm, facts, env,
            setup_s=setup_s, session_s=session_s, publish_s=publish_s, prepare_s=prepare_s,
            measured_s=measured_s, timed_overhead_s=timed_overhead_s, peak_rss=monitor.peak_bytes,
            tracer=tracer,
        )
        if tracer:
            tracer.dump(os.path.join(work_root, f"spans-{args.workload}.jsonl"))
    finally:
        monitor.stop()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result["detail"], default=str))
    print(json.dumps(result["final"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
