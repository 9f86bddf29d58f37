"""Vector-serving benchmark: one workload per process.

    python3 perfbench/run.py --workload point_serve --seed 1 --seconds 10 --trace 0

Run from the repository root.  The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0`` reports the
end-to-end metrics of BENCHMARK.json; ``--trace 1`` turns on the Spark event
log and job-group tagging and reports the per-layer metrics instead.  The
line before it records the environment (load, CPU reference loop, steal
time, cores).
Scratch files go under ``.perfbench_work/`` in the root and are removed on
exit, except the span dump of a traced run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HERE = os.path.dirname(os.path.abspath(__file__))
DRIVER_MEM = "1g"


def pin_environment(work: str) -> None:
    """Fix everything that moved numbers between runs or left the checkout:
    core count, BLAS threads, heap size, and every scratch directory."""
    for v in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[v] = "1"
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONHASHSEED"] = "0"  # for the Python workers
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    # Python workers import the engine from the checkout itself
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")


def cpu_reference_ms() -> float:
    """A fixed pure-Python loop: how fast this box is right now."""
    t = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc += i * i % 7
    return (time.perf_counter() - t) * 1e3


def cpu_times() -> list[int]:
    """The box's CPU time counters: user, nice, system, idle, iowait, irq,
    softirq, steal ..."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    """Share of the box's CPU time the hypervisor gave to other guests."""
    d = [b - a for a, b in zip(before, after)]
    return 100.0 * d[7] / sum(d[:8]) if sum(d[:8]) else 0.0


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for {pid}")


def jvm_heap(spark) -> dict:
    """Heap use behind the pinned heap: the old generation's peak
    occupancy over the run, and the live heap after a full GC at its end."""
    jvm = spark._jvm
    mf = jvm.java.lang.management.ManagementFactory
    old = [p.getPeakUsage().getUsed() for p in mf.getMemoryPoolMXBeans()
           if p.getType().name() == "HEAP" and "Old" in p.getName()]
    jvm.java.lang.System.gc()
    live = mf.getMemoryMXBean().getHeapMemoryUsage().getUsed()
    return {"jvm_old_gen_peak_mb": sum(old) / 2**20, "jvm_heap_live_mb": live / 2**20}


def start_spark(work: str, traced: bool):
    from bustub_vectordb_spark import shipping
    from bustub_vectordb_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    conf = {
        # a fully committed, pre-touched heap: the JVM's resident size no
        # longer wanders with G1's decisions to grow the heap
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        os.makedirs(os.path.join(work, "events"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    # ensure_package_on_workers zips the package into /tmp; the benchmark
    # writes only inside its checkout, and the workers already import the
    # package from it through PYTHONPATH, so mark the package as shipped
    shipping._SHIPPED.add(id(spark.sparkContext))
    return spark


PHASES = [(t, p) for p in ("read", "write") for t in ("sql", "ivfflat", "hnsw")] + [
    ("ivfflat", "build"), ("hnsw", "build")]


def slope(ys: list[float]) -> float:
    """Least-squares growth per call, in the unit of ys."""
    if len(ys) < 2:
        return 0.0
    xs = range(len(ys))
    mx, my = statistics.fmean(xs), statistics.fmean(ys)
    den = sum((x - mx) ** 2 for x in xs)
    return sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / den


def med(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def end_to_end(b, peak_mb: float) -> dict:
    def p50(tier: str, phase: str) -> float:
        return med(c.span.ms for c in b.tracer.select(tier, phase))

    return {
        "setup_s": (med(b.setup_s), "s"),
        "peak_rss_mb": (peak_mb, "MB"),
        "sql_p50_ms": (p50("sql", "read"), "ms"),
        "ivfflat_p50_ms": (p50("ivfflat", "read"), "ms"),
        "hnsw_p50_ms": (p50("hnsw", "read"), "ms"),
        "sql_write_p50_ms": (p50("sql", "write"), "ms"),
        "ivfflat_write_p50_ms": (p50("ivfflat", "write"), "ms"),
        "hnsw_write_p50_ms": (p50("hnsw", "write"), "ms"),
        "ivfflat_recall_at_10": (statistics.fmean(b.scored["ivfflat"]), "ratio"),
        "hnsw_recall_at_10": (statistics.fmean(b.scored["hnsw"]), "ratio"),
    }


def per_layer(b, counters: dict, session_s: float, env: dict, union_inputs: int) -> dict:
    from spans import Counters

    t = b.tracer
    m = {
        "session.start_s": (session_s, "s"),
        "bench.datagen_s": (med(b.datagen_s), "s"),
        "env.cpu_ref_ms": (env["cpu_ref_ms"], "ms"),
        "env.load1": (env["load1"], "load"),
        "catalog.union_inputs": (union_inputs, "count"),
        "jvm.old_gen_peak_mb": (env["jvm_old_gen_peak_mb"], "MB"),
        "jvm.heap_live_mb": (env["jvm_heap_live_mb"], "MB"),
        "sql.rewrite_ms": (med(b.extra.get("sql.rewrite_ms", [])), "ms"),
        "ivfflat.rank_buckets_ms": (med(b.extra.get("ivfflat.rank_buckets_ms", [])), "ms"),
        "ivfflat.candidates_per_result": (
            statistics.fmean(b.cand_per_result) if b.cand_per_result else 0.0, "ratio"),
    }
    for tier, phase in PHASES:
        calls = t.select(tier, phase)
        cs = [counters.get(f"pb-{c.request}", Counters()) for c in calls]
        p = f"{tier}.{phase}"
        m.update({
            f"{p}_ms": (med(c.span.ms for c in calls), "ms"),
            f"{p}_jobs": (med(x.jobs for x in cs), "count"),
            f"{p}_stages": (med(x.stages for x in cs), "count"),
            f"{p}_tasks": (med(x.tasks for x in cs), "count"),
            f"{p}_driver_only_ms": (
                med(x.driver_only_ms(c.span) for x, c in zip(cs, calls)), "ms"),
            f"{p}_shuffle_bytes": (med(x.shuffle_bytes for x in cs), "bytes"),
            f"{p}_task_max_over_median": (med(x.straggler_ratio() for x in cs), "ratio"),
        })
        if (tier, phase) not in (("hnsw", "read"), ("hnsw", "write")):
            # the driver HNSW tier serves with no Spark job at all, and the
            # routed tier works in Python workers, which these leave out
            m.update({
                f"{p}_executor_cpu_ms": (med(x.cpu_ms for x in cs), "ms"),
                f"{p}_executor_run_ms": (med(x.run_ms for x in cs), "ms"),
            })
        if phase != "build":
            m.update({
                f"{p}_call_ms": (med(c.child_ms("call") for c in calls), "ms"),
                f"{p}_force_ms": (med(c.child_ms("force") for c in calls), "ms"),
                f"{p}_slope_ms": (slope([c.span.ms for c in calls]), "ms"),
            })
        if tier == "hnsw":
            # time in HNSW graph code: Python-worker time on the routed tier;
            # on the driver tier, a bench-side graph.search per probe, else
            # the calls' driver-only time
            if "hnsw.graph_ms" not in b.extra:
                graph = med(x.python_ms for x in cs)
            elif phase == "read":
                graph = med(b.extra["hnsw.graph_ms"])
            else:
                graph = m[f"{p}_driver_only_ms"][0]
            m[f"{p}_graph_ms"] = (graph, "ms")
    timed = [counters.get(f"pb-{c.request}", Counters()) for c in t.calls]
    m["spark.gc_ms"] = (sum(x.gc_ms for x in timed), "ms")
    ivf_reads = [counters.get(f"pb-{c.request}", Counters()) for c in t.select("ivfflat", "read")]
    m["ivfflat.read_gc_ms"] = (statistics.fmean(x.gc_ms for x in ivf_reads), "ms")
    m["hnsw.read_graph_share"] = (
        m["hnsw.read_graph_ms"][0] / m["hnsw.read_ms"][0] if m["hnsw.read_ms"][0] else 0.0,
        "ratio")
    return m


def process_tree(pid: int) -> list[int]:
    """pid and all its descendants, from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo += children.get(p, [])
    return out


def alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_jvm(timeout: float = 60.0) -> None:
    """End the JVM that PySpark started, and its Python workers, and wait
    until they have all exited: the JVM exits when its stdin closes."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if proc is None:
        return
    tree = process_tree(proc.pid)
    gw.shutdown()
    proc.stdin.close()
    proc.wait(timeout)
    end = time.monotonic() + timeout
    while any(alive(p) for p in tree[1:]):
        if time.monotonic() > end:
            raise RuntimeError("Spark's Python workers did not exit")
        time.sleep(0.05)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    pin_environment(work)
    spark = None
    try:
        sys.path[:0] = [HERE, ROOT]
        import workloads  # imports the engine: fails here when it is absent
        from spans import Tracer, find_event_log, parse_event_log

        if args.workload not in workloads.WORKLOADS:
            ap.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
        traced = bool(args.trace)
        env = {"load1": os.getloadavg()[0], "cpu_ref_ms": cpu_reference_ms(),
               "cpus": os.environ["SPARK_GRAFT_CPUS"], "driver_mem": DRIVER_MEM}
        ticks = cpu_times()
        t0 = time.perf_counter()
        spark = start_spark(work, traced)
        session_s = time.perf_counter() - t0
        b = workloads.Bench(spark, Tracer(spark, traced), args.seed, args.seconds)
        workloads.WORKLOADS[args.workload](b)
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        env["peak_rss_mb"] = {"python": vm_hwm_mb("self"), "jvm": vm_hwm_mb(jvm_pid)}
        # the heap is committed up front, so its use shows here, not in RSS
        env.update(jvm_heap(spark))
        env["steal_pct"] = steal_pct(ticks, cpu_times())
        env["cpu_ref_end_ms"] = cpu_reference_ms()
        peak_mb = sum(env["peak_rss_mb"].values())
        # Spark flattens nested unions, so count the plan's inputs instead
        plan = b.eng.catalog.table("items_w")._jdf.queryExecution().analyzed()
        union_inputs = plan.collectLeaves().size()
        spark.stop()
        spark = None
        if traced:
            counters = parse_event_log(find_event_log(os.path.join(work, "events")))
            b.tracer.dump(os.path.join(ROOT, ".perfbench_work", "traces",
                                       f"{args.workload}-{args.seed}.jsonl"))
            metrics = per_layer(b, counters, session_s, env, union_inputs)
        else:
            metrics = end_to_end(b, peak_mb)
    finally:
        if spark is not None:
            spark.stop()
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    env["calls_ms"] = {f"{t}.{p}": [round(c.span.ms, 3) for c in b.tracer.select(t, p)]
                       for t, p in PHASES}
    print(json.dumps({"env": env}))
    print(json.dumps({
        "correct": b.correct and b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
