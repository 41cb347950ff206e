"""Serving benchmark for the ``VectorDB`` facade (see perfbench/README.md).

    python3 perfbench/run.py --workload serve_read --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  Each run is one fresh process with its own
scratch, warehouse and Spark local dirs under ``perfbench/.runs/``, removed
at exit.  The last line of stdout is one JSON object: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``.  A full record
of the run (both kinds where measured, plus extras) and, when traced, the
spans, are kept under ``perfbench/.runs/``.
"""

from __future__ import annotations

import argparse
import gc
import importlib.util
import json
import os
import shutil
import statistics
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def sentinels(run_dir: str) -> tuple[float, float]:
    """Machine drift probes: a fixed numpy matmul and the repo's fsync probe."""
    import numpy as np

    a = np.random.default_rng(0).normal(size=(384, 384))
    gemm = []
    for _ in range(9):
        t0 = time.perf_counter()
        a @ a
        gemm.append(time.perf_counter() - t0)
    spec = importlib.util.spec_from_file_location(
        "scratch_probe", os.path.join(ROOT, "tools", "scratch_probe.py"))
    probe = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(probe)
    fsync_med, _ = probe.fsync_lat(run_dir, 40)
    return statistics.median(gemm) * 1000.0, fsync_med


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def isolate(run_dir: str) -> dict[str, str]:
    """Point every scratch location of this run inside ``run_dir``."""
    dirs = {k: os.path.join(run_dir, k) for k in ("scratch", "local", "warehouse", "tmp")}
    for d in dirs.values():
        os.makedirs(d)
    os.environ.update({
        "SPARK_GRAFT_SCRATCH": dirs["scratch"],
        "SPARK_LOCAL_DIRS": dirs["local"],
        "SPARKVDB_WAREHOUSE": dirs["warehouse"],
        "TMPDIR": dirs["tmp"],
    })
    os.environ.pop("SPARK_DRIVER_MEM", None)  # run at the product's default heap
    return dirs


def jvm_heap_pools(sc) -> list:
    mf = sc._jvm.java.lang.management.ManagementFactory
    heap = sc._jvm.java.lang.management.MemoryType.HEAP
    return [p for p in mf.getMemoryPoolMXBeans() if p.getType().equals(heap)]


def jvm_heap_peak_mb(pools) -> float:
    """Sum of each JVM heap pool's peak use since its last reset."""
    return sum(p.getPeakUsage().getUsed() for p in pools) / 2**20


def jvm_heap_after_gc_mb(sc) -> float:
    """JVM heap in use after full collections: what the driver retains.
    Python garbage can hold JVM objects through py4j until Python's cycle
    collector runs, and Spark's cleaner releases memory (a 64 MiB Tungsten
    page, on some runs) only after a collection has shown it unreachable.
    So Python collects first; then the JVM collects six times, half a
    second apart, and the least reading counts."""
    gc.collect()
    mx = sc._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used = []
    for i in range(6):
        if i:
            time.sleep(0.5)
        sc._jvm.java.lang.System.gc()
        used.append(mx.getHeapMemoryUsage().getUsed() / 2**20)
    return min(used)


def run(args, run_dir: str) -> tuple[dict, dict, dict]:
    """Returns (end-to-end metrics, per-layer metrics, extras)."""
    from data import Corpus
    from serve import (BATCH_SHAPES, SHAPES, WORKLOADS, Client, build_table, cpu_jiffies,
                       dir_bytes, shape_p50_ms, steal_share, warm_up)
    from tracer import Tracer

    dirs = isolate(run_dir)
    s0 = time.perf_counter()
    gemm0, fsync0 = sentinels(dirs["scratch"])
    sentinel_s = time.perf_counter() - s0

    from modal_vector_db_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData",
    })
    session_s = time.perf_counter() - t0
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    try:
        w = WORKLOADS[args.workload]
        corpus = Corpus(args.seed, w.rows)
        db, steps = build_table(spark, corpus, "items", dirs["warehouse"], ivf=True, graph=w.graph)
        tracer = Tracer(sc) if args.trace else None
        client = Client(corpus, db, tracer)
        warm_up(client, *w.reads, w.warm_rounds)
        pools = jvm_heap_pools(sc)
        for pool in pools:
            pool.resetPeakUsage()
        steal0 = cpu_jiffies()
        loop_t0 = time.perf_counter()
        setup_s = loop_t0 - T_START - sentinel_s
        w.loop(client, args.seconds)
        loop_s = time.perf_counter() - loop_t0
        steal_pct = 100.0 * steal_share(steal0, cpu_jiffies())
        heap_peak_mb = jvm_heap_peak_mb(pools)
        peak_rss_mb = _vm_hwm_mb("self") + _vm_hwm_mb(sc._gateway.proc.pid)
        lat = client.lat
        recall = client.recall["ivf"] + client.recall["graph"]
        e2e = {
            "setup_s": (setup_s, "s"),
            "query_p50_ms": (shape_p50_ms(lat, SHAPES), "ms"),
            "batch_query_p50_ms": (shape_p50_ms(lat, BATCH_SHAPES), "ms"),
            "queries_per_s": (client.answered / loop_s, "1/s"),
            "recall_at_10": (statistics.fmean(recall), "ratio"),
            "storage_bytes_per_row": (dir_bytes(dirs["warehouse"]) / corpus.n_live, "bytes"),
            "heap_after_gc_mb": (jvm_heap_after_gc_mb(sc), "MB"),
        }
        extras = {
            "loop_s": loop_s,
            "setup_steps_s": {"session": session_s, "sentinels": sentinel_s, **steps},
            "op_ms": {k: [x * 1000.0 for x in v] for k, v in lat.items()},
            "op_steal": dict(client.steal),
            "short_answers": client.short,
            "steal_pct": steal_pct,
            "index_stats": db.index_stats(),
        }
        layer = {}
        if tracer is not None:
            import layers

            layer = layers.measure(args, spark, client, steps, session_s, dirs, e2e)
            os.makedirs(os.path.join(HERE, ".runs", "traces"), exist_ok=True)
            tracer.dump(os.path.join(HERE, ".runs", "traces", f"{args.workload}-s{args.seed}.json"))
        gemm1, fsync1 = sentinels(dirs["scratch"])
        layer["jvm.heap_peak_mb"] = (heap_peak_mb, "MB")
        layer["memory.peak_rss_mb"] = (peak_rss_mb, "MB")
        layer["machine.gemm_ms"] = ((gemm0 + gemm1) / 2, "ms")
        layer["machine.fsync_ms"] = ((fsync0 + fsync1) / 2, "ms")
        layer["machine.steal_pct"] = (steal_pct, "%")
        extras["sentinels"] = {"gemm_ms": [gemm0, gemm1], "fsync_ms": [fsync0, fsync1]}
        extras["attempted"], extras["failed"] = client.attempted, client.failed
        return e2e, layer, extras
    finally:
        spark.stop()
        # the JVM exits on EOF of its stdin; wait for it
        sc._gateway.proc.stdin.close()
        sc._gateway.proc.wait(timeout=60)


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=("serve_read", "serve_write"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "modal_vector_db_spark", "engine.py")):
        print(f"perfbench: no modal_vector_db_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    run_dir = os.path.join(HERE, ".runs", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        e2e, layer, extras = run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    attempted, failed = extras["attempted"], extras["failed"]
    metrics = layer if args.trace else e2e
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "attempted": attempted, "failed": failed,
              "end_to_end": e2e, "per_layer": layer, "extras": extras}
    os.makedirs(os.path.join(HERE, ".runs", "records"), exist_ok=True)
    with open(os.path.join(HERE, ".runs", "records",
                           f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in sorted(metrics.items())},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
