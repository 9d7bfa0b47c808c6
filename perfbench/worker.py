"""One benchmark run of one workload, in a fresh process started by run.py.

Set-up (timed as ``setup_s``): start the session through ``get_spark``,
run the workload's warm-up (a full-size pass on other inputs), then
generate and stage the seeded inputs three times and keep the median of
those three.
Then the workload runs for the requested seconds, its outputs are checked
(untimed), the operator caches are released, and the result is written
as JSON for run.py to print.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import workloads  # noqa: E402
from tracing import LAYERS, Tracer, eventlog_by_group  # noqa: E402

SETUP_REPEATS = 3
MIN_GC_ROUNDS, MAX_GC_ROUNDS = 4, 10    # before the live heap is read


def tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile that still has ten
    samples beyond it."""
    s = sorted(samples)
    return s[len(s) - 11], 100.0 * (len(s) - 10) / len(s)


def cpu_ticks() -> list[int]:
    """The machine's CPU time counters (user ... steal) from /proc/stat."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def layer_metrics(tracer: Tracer, n_traced: int, events: dict) -> dict[str, float]:
    """Per-pass self time, Spark jobs/tasks and event-log figures per layer.
    Session and opcache spans happen once per run and are not divided."""
    out: dict[str, float] = {}
    self_s = tracer.self_seconds()
    for sp in tracer.spans:
        div = 1 if sp.layer in ("session", "opcache") else n_traced
        acc = lambda key, v: out.__setitem__(key, out.get(key, 0.0) + v / div)  # noqa: E731
        acc(f"{sp.layer}.self_s", self_s[sp.id])
        acc(f"{sp.layer}.spark_jobs", len(sp.jobs))
        acc(f"{sp.layer}.spark_tasks", sp.tasks)
        for fig, v in events.get(sp.group, {}).items():
            acc(f"{sp.layer}.{fig}", v)
    return out


def report(declared: list[dict], metrics: dict[str, float], layers: tuple[str, ...]) -> dict:
    """Every declared metric with its unit.  A metric of a layer this
    workload does not call reports 0; any other metric that was not
    measured is an error."""
    out = {}
    for d in declared:
        name = d["name"]
        layer = name.split(".")[0]
        if name in metrics:
            value = metrics[name]
        elif layer in LAYERS and layer not in layers:
            value = 0.0
        else:
            raise RuntimeError(f"metric {name} was not measured")
        out[name] = {"value": float(value), "unit": d["unit"]}
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--result", required=True)
    args = ap.parse_args()

    wl = workloads.WORKLOADS[args.workload]
    traced = bool(args.trace)
    load_start = os.getloadavg()[0]
    ticks_start = cpu_ticks()
    tracer = Tracer(run_id=f"{wl.name}-{args.seed}", enabled=traced)

    # ---- set-up ---------------------------------------------------------
    t0 = time.perf_counter()
    with tracer.span("session", "get_spark"):
        from meteaudata_spark import get_spark, release_operator_caches

        spark = get_spark(f"perfbench-{wl.name}")
    session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    tracer.attach(spark.sparkContext)

    t0 = time.perf_counter()
    wl.warm_up(spark, os.path.join(args.run_dir, "warm"), workloads.OFF)
    warm_s = time.perf_counter() - t0

    repeats = []
    for r in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        staged = wl.stage(wl.generate(args.seed), os.path.join(args.run_dir, f"stage{r}"))
        repeats.append(time.perf_counter() - t0)
    setup_s = session_s + warm_s + statistics.median(repeats)

    # ---- measure --------------------------------------------------------
    m = wl.measure(spark, staged, args.seconds, tracer, os.path.join(args.run_dir, "work"))

    # ---- check (untimed) ------------------------------------------------
    attempted, failed, notes, quality = wl.check(staged, m, spark)
    # drop the outputs' Python-side handles so py4j releases their JVM
    # objects, then collect until the heap stops shrinking: the
    # ContextCleaner frees what a collection made unreachable (broadcasts,
    # shuffles, checkpoints) only after it, asynchronously.  On
    # corpus_curation the heap fell 163 -> 150 -> 84 MB over the first
    # three rounds, so at least MIN_GC_ROUNDS run
    m.outputs.clear()
    jvm = spark.sparkContext._jvm
    jsc = spark.sparkContext._jsc
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    live_heap_mb = float("inf")
    for r in range(MAX_GC_ROUNDS):
        gc.collect()
        jvm.java.lang.System.gc()
        time.sleep(0.5)
        used = heap.getHeapMemoryUsage().getUsed() / 2**20
        settled = used > live_heap_mb - 1.0
        live_heap_mb = min(used, live_heap_mb)
        if settled and r + 1 >= MIN_GC_ROUNDS:
            break
    persisted = jsc.sc().getPersistentRDDs().size()
    with tracer.span("opcache", "release_operator_caches"):
        released = release_operator_caches()
    persisted_after = jsc.sc().getPersistentRDDs().size()

    python_hwm_mb = vm_hwm_mb("self")
    peak_rss_mb = vm_hwm_mb(jvm.java.lang.ProcessHandle.current().pid()) + python_hwm_mb
    load_end = os.getloadavg()[0]
    ticks = [b - a for a, b in zip(ticks_start, cpu_ticks())]

    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)

    p50 = statistics.median(m.latency_s)
    wall = statistics.median(m.wall_s)
    e2e = {
        "setup_s": setup_s,
        "wall_s": wall,
        "items_per_s": m.items / m.items_s,
        "request_p50_ms": 1000 * p50,
        "memory_mb": live_heap_mb + python_hwm_mb,
    }

    print(f"# perfbench {wl.name} seed={args.seed} seconds={args.seconds:g} trace={args.trace}")
    print(f"# load average (1 min) at start {load_start:.2f}, at end {load_end:.2f};"
          f" CPU time stolen by the host {100 * ticks[7] / max(1, sum(ticks)):.1f}%")
    print(f"setup_s          {setup_s:10.4f} s    session {session_s:.2f} s + warm-up {warm_s:.2f} s"
          f" + median of {SETUP_REPEATS} input set-ups {statistics.median(repeats):.2f} s")
    print(f"wall_s           {wall:10.4f} s    median of {len(m.wall_s)} untraced passes:"
          f" {' '.join(f'{w:.2f}' for w in m.wall_s)}")
    print(f"items_per_s      {e2e['items_per_s']:10.4f} 1/s  {wl.item} per second, "
          f"{m.items} per pass")
    print(f"request_p50_ms   {e2e['request_p50_ms']:10.4f} ms   median of {len(m.latency_s)} {wl.request}:"
          f" {' '.join(f'{1000 * x:.0f}' for x in m.latency_s)}")
    if len(m.latency_s) > 10:
        tail_v, tail_p = tail(m.latency_s)
        print(f"# request tail   {1000 * tail_v:10.4f} ms   p{tail_p:.1f} of {len(m.latency_s)}"
              f" (10 samples beyond it)")
    print(f"memory_mb        {e2e['memory_mb']:10.4f} MB   live JVM heap after a full GC at the end,"
          f" before caches are released, {live_heap_mb:.1f} + Python VmHWM {python_hwm_mb:.1f}")
    print(f"# peak RSS       {peak_rss_mb:10.4f} MB   VmHWM of driver JVM + Python")
    print(f"# persisted RDDs at end {persisted}; release_operator_caches() released {released}"
          f" registered caches, {persisted_after} RDDs stay persisted")
    for k, v in quality.items():
        print(f"{k:16s} {v:10.4f}")
    print(f"checks: {attempted} attempted, {failed} failed")
    for n in notes[:20]:
        print(f"  FAILED {n}")

    metrics = e2e
    if traced:
        events = eventlog_by_group(os.path.join(args.run_dir, "eventlog"))
        n_traced = max(1, len(m.traced_wall_s))
        layer = layer_metrics(tracer, n_traced, events)
        if m.traced_wall_s:
            layer["trace.overhead_s"] = statistics.median(m.traced_wall_s) - wall
        layer.update(m.layer)
        layer.update(quality)
        layer["session.start_s"] = session_s
        layer["opcache.persisted_rdds"] = persisted
        layer["peak_rss_mb"] = peak_rss_mb
        layer["error_rate"] = failed / attempted
        tracer.write(os.path.join(args.run_dir, "spans.json"))
        with open(os.path.join(args.run_dir, "layers.txt"), "w") as fh:
            for k in sorted(layer):
                fh.write(f"{k:36s} {layer[k]:16.6f}\n")
        print(f"# per-layer figures per traced pass ({n_traced} traced, "
              f"{len(m.wall_s)} untraced); spans in {args.run_dir}/spans.json")
        for k in sorted(layer):
            print(f"  {k:36s} {layer[k]:16.6f}")
        metrics = layer

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = json.load(fh)["per_layer" if traced else "end_to_end"]
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": report(declared, metrics, wl.layers)}
    with open(args.result, "w") as fh:
        json.dump(result, fh)
    shutil.rmtree(os.path.join(args.run_dir, "work"), ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
