"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload pgn_etl --seed 1 --seconds 5 --trace 0

Run from the repository root. The run starts a local Spark session with
one task slot per core, generates its inputs from ``--seed`` several
times (``setup_s`` is the CPU time of the session start plus the median
CPU time of the generations), runs one unit of work and checks its
output. The unit is the one a scheduled job pays in a fresh process, JIT
compilation and code generation included; it takes longer than any
``--seconds`` the manifest declares, so ``--seconds`` is accepted but
does not change what is measured. ``--trace 1`` runs the unit traced and
reports the per-layer metrics, ``bench.trace_overhead_frac`` being the
time spent opening and closing spans over the traced wall.

Every metric is printed as ``metric <name> <value> <unit>``; the last
stdout line is the JSON result ``{"correct", "attempted", "failed",
"metrics"}``, and the line before it a JSON record of host, seed, input
shares and the unit's readings (also written to ``.bench_results/``).

    python3 perfbench/run.py --write-manifest   # regenerate BENCHMARK.json

Everything the run writes lives under ``.bench_work/`` and
``.bench_results/`` in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# either workload fits a 1.5 GB heap; with 3 GB, G1 grew the heap by GC
# timing and peak memory swung by a quarter between runs
DRIVER_MEM = "1536m"
SETUP_REPEATS = 3


class Timer:
    """Wall and process-tree CPU seconds of one ``with`` block, and what the
    rest of the machine did meanwhile: CPU seconds of other processes and
    seconds the hypervisor gave the CPUs to other guests (steal)."""

    wall = cpu = others_cpu = steal = 0.0

    def __enter__(self) -> Timer:
        from perfbench.host import system_cpu_s, tree_cpu_s

        self._cpu0, self._sys0 = tree_cpu_s(), system_cpu_s()
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        from perfbench.host import system_cpu_s, tree_cpu_s

        self.wall = time.perf_counter() - self._t0
        self.cpu = tree_cpu_s() - self._cpu0
        busy, steal = system_cpu_s()
        self.others_cpu = busy - self._sys0[0] - self.cpu
        self.steal = steal - self._sys0[1]

    def reading(self, items: int, raised: bool) -> dict:
        return {
            "wall_s": self.wall,
            "cpu_s": self.cpu,
            "items": items,
            "raised": raised,
            "others_cpu_s": self.others_cpu,
            "steal_s": self.steal,
        }


def measure(wl, tracer=None) -> dict:
    """The readings of the workload's unit; a unit that raises is
    recorded as such."""
    timer = Timer()
    try:
        items = wl.unit(timer, tracer)
    except Exception:
        traceback.print_exc()
        return timer.reading(0, True)
    return timer.reading(items, False)


def jvm_memory(sc) -> dict:
    """The driver JVM's heap cap, the sum of its heap pools' peak used and
    committed bytes (MB) and its total GC time, read at the end of a run:
    how close the heap came to its cap and what the collector spent
    keeping it there."""
    mgmt = sc._jvm.java.lang.management.ManagementFactory
    used = committed = 0
    for pool in mgmt.getMemoryPoolMXBeans():
        if str(pool.getType().name()) == "HEAP":
            peak = pool.getPeakUsage()
            used += peak.getUsed()
            committed += peak.getCommitted()
    gc_ms = sum(gc.getCollectionTime() for gc in mgmt.getGarbageCollectorMXBeans())
    mb = 1 << 20
    return {
        "heap_max_mb": mgmt.getMemoryMXBean().getHeapMemoryUsage().getMax() / mb,
        "heap_peak_used_mb": used / mb,
        "heap_peak_committed_mb": committed / mb,
        "gc_s": gc_ms / 1000,
    }


def _prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python workers write inside
    ``work``, and let workers import the benchmark package."""
    for d in ("tmp", "spark-local", "catalog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # the JVM keeps its perf counters in memory instead of a file in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "catalog")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.retainedJobs=100000 --conf spark.ui.retainedStages=100000 "
        "pyspark-shell"
    )
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except (OSError, subprocess.TimeoutExpired):
            proc.kill()
            proc.wait()


def layer_metrics(tracer, sc, wl) -> dict[str, float]:
    """Per-layer metrics of the traced unit."""
    from perfbench import spec
    from perfbench.trace import job_costs

    costs = job_costs(sc)
    out = {n: 0.0 for n, _ in spec.per_layer()}
    for layer, busy in tracer.self_times().items():
        if layer in spec.SPAN_LAYERS:
            out[f"{layer}.busy_s"] = busy
    kids: dict[int, list] = {}
    for s in tracer.spans:
        kids.setdefault(id(s.parent), []).append(s)

    def subtree(s):
        todo = [s]
        while todo:
            x = todo.pop()
            yield x
            todo.extend(kids.get(id(x), ()))

    for s in tracer.spans:
        c = costs[s.key]
        if s.layer in spec.SPAN_LAYERS:
            for m in ("jobs", "shuffle_bytes", "spill_bytes", "gc_s"):
                out[f"{s.layer}.{m}"] += c[m]
        if s.layer == "queries" and s.parent is None:
            sub = [costs[x.key] for x in subtree(s)]
            out["tables.scan_bytes"] += sum(c["input_bytes"] for c in sub)
            if s.name.endswith(":build"):
                out["queries.eager_jobs"] += sum(c["jobs"] for c in sub)
    counters = wl.layer_counters(tracer)
    if set(counters) != set(wl.COUNTERS):
        raise RuntimeError(f"{wl.name} counters differ from COUNTERS: {sorted(counters)}")
    out.update(counters)
    return out


def run(args) -> int:
    from knightshift_spark.session import get_spark
    from perfbench import spec, trace
    from perfbench.host import MemSampler, host_record
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; expected one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _prepare_env(work)
    spark = None
    try:
        with MemSampler() as mem:
            with Timer() as session:
                spark = get_spark("perfbench", master=f"local[{os.cpu_count()}]")
            wl = WORKLOADS[args.workload](spark, os.path.join(work, "data"), args.seed)
            # generation runs in this process only: its own CPU time, so
            # the JVM's background work does not leak in
            gen_cpu_s, gen_wall_s = [], []
            for _ in range(SETUP_REPEATS):
                c0, t0 = time.process_time(), time.perf_counter()
                shares = wl.setup()
                gen_cpu_s.append(time.process_time() - c0)
                gen_wall_s.append(time.perf_counter() - t0)
            setup_s = session.cpu + statistics.median(gen_cpu_s)
            if not args.trace:
                unit = measure(wl)
            else:
                trace.instrument(spec.SPAN_LAYERS)
                tracer = trace.Tracer(spark.sparkContext, wl.CAPTURE)
                trace.ACTIVE = tracer
                try:
                    unit = measure(wl, tracer)
                finally:
                    trace.ACTIVE = None
                metrics = layer_metrics(tracer, spark.sparkContext, wl)
                metrics["session.start_s"] = session.wall
                metrics["bench.trace_overhead_frac"] = tracer.overhead_s / unit["wall_s"]
            failed = int(unit["raised"] or not wl.check())
            jvm = jvm_memory(spark.sparkContext)
        record = {
            "workload": args.workload,
            "trace": args.trace,
            "host": host_record(spark, args.seed, ROOT),
            "input": shares,
            "setup_gen_cpu_s": gen_cpu_s,
            "setup_gen_wall_s": gen_wall_s,
            "session_start": {"wall_s": session.wall, "cpu_s": session.cpu, "steal_s": session.steal},
            "unit": unit,
            "peak_pss_by_process_mb": mem.peak_by_process,
            "jvm": jvm,
        }
        if not args.trace:
            metrics = {"setup_s": setup_s, "cpu_s": unit["cpu_s"], "peak_pss_mb": mem.peak_mb}
            units_of = {n: u for n, u, _ in spec.END_TO_END}
        else:
            units_of = dict(spec.per_layer())
        # wall readings (unbounded: see spec.END_TO_END), under the names the
        # workload's users know them by
        wall = unit["wall_s"]
        record["named"] = {
            "wall_s": wall,
            "setup_wall_s": session.wall + statistics.median(gen_wall_s),
            f"{wl.UNIT}_p50_s": wall,
            f"{wl.ITEMS}_per_s": unit["items"] / wall if wall else 0.0,
            "failed_frac": float(failed),
        }
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    for n, v in metrics.items():
        print(f"metric {n} {v:.6g} {units_of[n]}")
    for n, v in record["named"].items():
        u = "ratio" if n == "failed_frac" else "1/s" if n.endswith("_per_s") else "s"
        print(f"named {args.workload}.{n} {v:.6g} {u}")
    os.makedirs(os.path.join(ROOT, ".bench_results"), exist_ok=True)
    out = os.path.join(
        ROOT, ".bench_results", f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    )
    with open(out, "w") as f:
        json.dump(dict(record, metrics=metrics), f, indent=1)
    print(json.dumps({"record": record}))
    result = {
        "correct": failed == 0,
        "attempted": 1,
        "failed": failed,
        "metrics": {n: {"value": v, "unit": units_of[n]} for n, v in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=None)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--write-manifest", action="store_true")
    args = p.parse_args(argv)
    sys.path.insert(0, ROOT)
    from perfbench import spec

    if args.write_manifest:
        with open(os.path.join(ROOT, "BENCHMARK.json"), "w") as f:
            f.write(spec.manifest_text())
        return 0
    if not args.workload:
        p.error("--workload is required")
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
