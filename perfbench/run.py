"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload cow_upsert --seed 1 --seconds 10 --trace 0

Run from the root of a checkout: the engine is imported from the
``incubator_hudi_spark`` package beside this directory. One process, one
client, a closed loop of timed operations for ``--seconds`` seconds on a
``local[<cores>]`` Spark session. Outputs are checked against plain-Spark
expected answers after the loop; a mismatch makes the exit code 1.

The last line of standard output is the result:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones (setup_s, op_p50_adj_s, op_mean_adj_s),
wall seconds adjusted to a reference host speed (see end_to_end_metrics);
with ``--trace 1`` every engine layer is wrapped (see layers.py) and the
metrics are per layer. The line before it is a detail object with the
unadjusted latencies, the workload's own metrics, sample counts, session
settings and host canaries. Both, and the traced run's spans, are also
written under ``.perfbench/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")

#: Fixed-work CPU canary: bit_xor(xxhash64(id)) over CANARY_ROWS_PER_CORE
#: rows per core. It runs after every set-up and every timed operation,
#: outside their timers, and is the host-speed probe the end-to-end metrics
#: are adjusted by: each duration is scaled by CANARY_REF_S over the reading
#: right after it (stats.host_adjusted). On a quiet 4-core host it reads
#: 0.16-0.24 s (first-tier JIT, see session_conf), and CANARY_REF_S is
#: their middle; in the host's slow phases it read 0.34-0.46 s. A run is
#: marked unhealthy when the reading just before or just after the timed
#: loop exceeds CANARY_HEALTHY_MAX_S, which flags a host slowed by other
#: load rather than by the code.
CANARY_ROWS_PER_CORE = 5_000_000
CANARY_REF_S = 0.18
CANARY_HEALTHY_MAX_S = 0.3


def parse_args(argv=None):
    from workloads import WORKLOADS
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def host_memory_bytes():
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")


def session_conf(cores, work):
    """Spark settings sized to the host: all cores, shuffle partitions equal
    to the core count, a driver heap of a quarter of memory capped at 4 GiB,
    spill and temp files inside the work directory.

    The JVM compiles with its first JIT tier only. A run lasts about a
    minute, too short for the optimising tier to finish: with it, latency
    keeps falling through the whole timed loop and the same seed read 1.54 s
    and 2.06 s per upsert on two runs; with the first tier only, latency is
    level after a couple of operations and the two runs read 1.89 s and
    1.86 s.

    Code-cache flushing is off and the cache is large enough not to fill.
    With flushing on, the sweeper thread evicted compiled methods some 8 s
    into the timed loop of every run, and the compiler then spent several
    seconds recompiling them: 2-3 upserts (or 5-7 read rounds) in a row ran
    30-90% slower, and where that stretch fell in the loop moved the
    median."""
    mem_gb = max(1, min(4, host_memory_bytes() // (4 << 30)))
    return {
        "spark.master": f"local[{cores}]",
        "spark.app.name": "perfbench",
        "spark.sql.shuffle.partitions": str(cores),
        "spark.default.parallelism": str(cores),
        "spark.driver.memory": f"{mem_gb}g",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"
            f" -Dderby.system.home={os.path.join(work, 'derby')}"
            " -XX:TieredStopAtLevel=1"
            " -XX:-UseCodeCacheFlushing -XX:ReservedCodeCacheSize=512m",
        "spark.sql.session.timeZone": "UTC",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }


def start_spark(conf):
    from pyspark.sql import SparkSession
    b = SparkSession.builder
    for k, v in conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark):
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()     # the launched JVM exits when stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def cpu_canary(spark, cores):
    t0 = time.perf_counter()
    spark.range(0, CANARY_ROWS_PER_CORE * cores, 1, cores) \
        .selectExpr("bit_xor(xxhash64(id))").collect()
    return time.perf_counter() - t0


def timed_loop(wl, oplog, seconds, tracer, probe):
    """Closed loop: the next operation starts when the previous one ends
    and ``probe()`` has read the host's speed. The loop stops at the
    first cycle boundary after ``seconds``, so every run times the same mix
    of operation kinds. Returns kind -> the probe readings of the
    operations that completed, in the order of ``oplog.latencies``."""
    probes = defaultdict(list)
    deadline = time.perf_counter() + seconds
    i = 0
    while time.perf_counter() < deadline or i % wl.cycle_len:
        kind, fn = wl.op(i)            # input preparation is not timed
        i += 1
        if tracer is not None:
            fn = traced(tracer, kind, fn)
        ok, _ = oplog.run(kind, fn)
        wl.after_op(kind, ok)
        p = probe()
        if ok:
            probes[kind].append(p)
    return probes


def traced(tracer, kind, fn):
    def run():
        with tracer.span(f"op:{kind}", "table"):
            return fn()
    return run


def calibrate_wrapper(tracer_cls, sc, calls=200):
    """Seconds one wrapper adds per call, with and without job groups."""
    import types
    out = {}
    for jobs in (True, False):
        t = tracer_cls(sc)
        box = types.SimpleNamespace(f=lambda: None)
        t.wrap(box, "f", "calibration", jobs=jobs)
        t0 = time.perf_counter()
        for _ in range(calls):
            box.f()
        wrapped = time.perf_counter() - t0
        t.unwrap_all()
        t0 = time.perf_counter()
        for _ in range(calls):
            box.f()
        bare = time.perf_counter() - t0
        out[jobs] = max(0.0, (wrapped - bare) / calls)
    return out


def per_layer_metrics(tracer, oplog, probes, wl, costs):
    """per-layer metric -> (value, unit). Times and counts are per timed
    operation."""
    from stats import median
    n = max(oplog.completed(), 1)
    totals = tracer.layer_totals()
    spans = tracer.spans
    c = tracer.counts
    m = {}
    for layer in ("table", "writer", "indexing", "plans.buckets", "fsview",
                  "timeline", "scan", "bloom", "services.compaction",
                  "services.cleaning", "services.archival", "metadata_table",
                  "operators.dedup", "operators.text", "operators.similarity",
                  "streaming.sessionize"):
        m[f"{layer}.self_s"] = (totals.get(layer, {}).get("self_s", 0) / n,
                                "s/op")
    for layer in ("table", "writer", "indexing", "services.compaction"):
        m[f"{layer}.spark_jobs"] = (
            totals.get(layer, {}).get("spark_jobs", 0) / n, "count/op")
    for name in ("writer.files_written", "indexing.key_index_loads",
                 "fsview.calls", "timeline.listings", "scan.files_opened",
                 "bloom.slices_in", "bloom.slices_out",
                 "services.cleaning.files_deleted"):
        m[name] = (c[name] / n, "count/op")
    m["services.compaction.bytes_rewritten"] = (
        c["services.compaction.bytes_rewritten"] / n, "B/op")
    m["bloom.prune_ratio"] = (
        1 - c["bloom.slices_out"] / c["bloom.slices_in"]
        if c["bloom.slices_in"] else 0.0, "ratio")
    # write batches: upsert/delete calls; a batch hits the key-index cache
    # when no load_key_index span ran under it
    by_id = {s.id: s for s in spans}

    def ancestors(s):
        while s.parent is not None:
            s = by_id[s.parent]
            yield s
    batches = [s for s in spans if s.name in ("table:upsert", "table:delete")]
    jobs_under = {b.id: b.jobs for b in batches}
    loads = set()
    for s in spans:
        for a in ancestors(s):
            if a.id in jobs_under:
                jobs_under[a.id] += s.jobs
                if s.name == "indexing:load_key_index":
                    loads.add(a.id)
    m["indexing.cache_hit_ratio"] = (
        (len(batches) - len(loads)) / len(batches) if batches else 0.0,
        "ratio")
    m["spark.jobs_per_commit"] = (
        sum(jobs_under.values()) / len(batches) if batches else 0.0, "count")
    m["spark.jobs_per_op"] = (sum(s.jobs for s in spans) / n, "count/op")
    d = wl.details(oplog)
    for k, unit in (("bytes_written_per_input_byte", "B/B"),
                    ("table_bytes_per_live_row", "B/row")):
        m[f"storage.{k}"] = (d[k]["value"] if k in d else 0.0, unit)
    lat = oplog.latencies.get(wl.op_kind) or [0.0]
    m["trace.op_p50_s"] = (median(lat), "s")
    m["trace.op_p50_adj_s"] = (median(adjusted(oplog, probes, wl.op_kind)
                                      or [0.0]), "s")
    self_total = sum(v["self_s"] for v in totals.values())
    busy = oplog.busy_seconds()
    m["trace.self_coverage"] = (self_total / busy if busy else 0.0, "ratio")
    grouped = sum(1 for s in spans if s.grouped)
    m["trace.overhead_per_op_s"] = (
        (grouped * costs[True] + (len(spans) - grouped) * costs[False]) / n,
        "s/op")
    m["trace.spans_per_op"] = (len(spans) / n, "count/op")
    return m


def adjusted(oplog, probes, kind):
    from stats import host_adjusted
    return host_adjusted(oplog.latencies.get(kind, []),
                         probes.get(kind, []), CANARY_REF_S)


def end_to_end_metrics(wl, oplog, probes, setup_adj):
    """The metrics a run is judged on: the median set-up, the median timed
    operation and the mean timed operation (which, unlike the median,
    carries the clean, archival and compaction spikes), each in wall
    seconds adjusted to the reference host speed (CANARY_REF_S).

    They are adjusted because the host is shared and its speed moves by
    more than any useful bound within minutes: over ten seeds the median
    read round spread (quartile distance over median) 0.39 in wall seconds
    and 0.33 in CPU seconds, and one run's canary read twice the others'.
    Scaled by the canary read right after each operation, five seeds
    spread 0.07 where their wall seconds spread 0.16. The unadjusted
    figures are in the detail (``wall_metrics``)."""
    from stats import median
    lat = adjusted(oplog, probes, wl.op_kind)
    if not lat:
        raise RuntimeError(f"no timed {wl.op_kind} operation completed")
    every = [t for kind in oplog.latencies
             for t in adjusted(oplog, probes, kind)]
    return {
        "setup_s": {"value": median(setup_adj), "unit": "s",
                    "n": len(setup_adj)},
        "op_p50_adj_s": {"value": median(lat), "unit": "s", "n": len(lat)},
        "op_mean_adj_s": {"value": sum(every) / len(every), "unit": "s",
                          "n": len(every)},
    }


def wall_metrics(wl, oplog, setup_times):
    """Unadjusted wall-clock counterparts of the end-to-end metrics."""
    from stats import median
    lat = oplog.latencies[wl.op_kind]
    busy = oplog.busy_seconds()
    return {
        "setup_s": {"value": median(setup_times), "unit": "s",
                    "n": len(setup_times)},
        "op_p50_s": {"value": median(lat), "unit": "s", "n": len(lat)},
        "ops_per_s": {"value": oplog.completed() / busy, "unit": "1/s",
                      "n": oplog.completed()},
    }


def run(args):
    sys.path.insert(0, ROOT)
    import importlib.util
    if importlib.util.find_spec("incubator_hudi_spark") is None:
        raise SystemExit("perfbench: no incubator_hudi_spark package beside "
                         f"{HERE}; run from the root of a full checkout")
    import layers
    from spans import Tracer
    from stats import OpLog, host_adjusted, summarize
    from workloads import WORKLOADS

    cores = os.cpu_count() or 1
    work = os.path.join(STATE, f"work-{os.getpid()}")
    for sub in ("tmp", "derby", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    conf = session_conf(cores, work)
    t0 = time.perf_counter()
    spark = start_spark(conf)
    session_s = time.perf_counter() - t0
    try:
        wl = WORKLOADS[args.workload](spark, args.seed, work, cores)
        def probe():
            return cpu_canary(spark, cores)
        warm_probes = [probe() for _ in range(2)]    # compile the canary
        setup_times, setup_probes = [], []
        for attempt in range(wl.setup_repeats):
            t0 = time.perf_counter()
            wl.setup(attempt)
            setup_times.append(time.perf_counter() - t0)
            setup_probes.append(probe())
        setup_adj = host_adjusted(setup_times, setup_probes, CANARY_REF_S)
        t0 = time.perf_counter()
        wl.warmup()
        warmup_s = time.perf_counter() - t0

        tracer, costs = None, None
        if args.trace:
            costs = calibrate_wrapper(Tracer, spark.sparkContext)
            tracer = Tracer(spark.sparkContext)
            layers.install(tracer)
            wl.tracer = tracer
        oplog = OpLog()
        wl.start_loop()
        canary_start = probe()
        t0 = time.perf_counter()
        try:
            probes = timed_loop(wl, oplog, args.seconds, tracer, probe)
        finally:
            if tracer is not None:
                tracer.unwrap_all()
                wl.tracer = None
        loop_s = time.perf_counter() - t0
        canary_end = probe()
        errors = wl.check()
        details = wl.details(oplog)

        e2e = end_to_end_metrics(wl, oplog, probes, setup_adj)
        detail = {
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace,
            "op": wl.op_doc, "errors": errors,
            "end_to_end": e2e,
            "wall_metrics": wall_metrics(wl, oplog, setup_times),
            "workload_metrics": details,
            "failed_op_ratio": oplog.failed_ratio(),
            "latency": {k: summarize(v) for k, v in oplog.latencies.items()},
            "samples_s": dict(oplog.latencies),
            "probe_samples_s": dict(probes),
            "sub_latency": {k: summarize(v) for k, v in wl.sub.items()},
            "attempted_by_kind": dict(oplog.attempted),
            "failed_by_kind": dict(oplog.failed),
            "setup_samples_s": setup_times,
            "setup_probe_samples_s": setup_probes,
            "warm_probe_samples_s": warm_probes,
            "warmup_s": warmup_s,
            "warmup_samples_s": wl.warmup_samples,
            "warmup_settled": wl.warmup_settled,
            "loop_s": loop_s, "session_start_s": session_s,
            "cores": cores, "session": conf,
            "canary_s": [canary_start, canary_end],
            "canaries_healthy": max(canary_start, canary_end)
            <= CANARY_HEALTHY_MAX_S,
        }
        if tracer is not None:
            metrics = {k: {"value": v, "unit": u} for k, (v, u)
                       in per_layer_metrics(tracer, oplog, probes, wl,
                                            costs).items()}
            detail["per_layer"] = metrics
            detail["layer_totals"] = tracer.layer_totals()
            detail["wrapper_cost_s"] = {"with_job_group": costs[True],
                                        "without": costs[False]}
            detail["overhead_vs_untraced"] = overhead(args, detail)
        else:
            metrics = {k: {"value": v["value"], "unit": v["unit"]}
                       for k, v in e2e.items()}
        save(args, detail, tracer)
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    return {"correct": not errors, "attempted": oplog.total_attempted,
            "failed": oplog.total_failed, "metrics": metrics}, detail


def result_path(args, trace):
    return os.path.join(STATE, "results",
                        f"{args.workload}-seed{args.seed}-trace{trace}.json")


def overhead(args, detail):
    """Traced minus untraced median operation, in wall and in adjusted
    seconds, when this seed's untraced result exists."""
    try:
        with open(result_path(args, 0)) as f:
            base = json.load(f)
    except (OSError, ValueError):
        return None
    out = {}
    for key, section, name in (("wall", "wall_metrics", "op_p50_s"),
                               ("adjusted", "end_to_end", "op_p50_adj_s")):
        try:
            b = base[section][name]["value"]
        except KeyError:
            continue
        t = detail[section][name]["value"]
        out[key] = {"untraced_s": b, "traced_s": t, "overhead_s": t - b,
                    "overhead_ratio": (t - b) / b if b else None}
    return out or None


def save(args, detail, tracer):
    os.makedirs(os.path.join(STATE, "results"), exist_ok=True)
    with open(result_path(args, args.trace), "w") as f:
        json.dump(detail, f, indent=1, default=str)
    if tracer is not None:
        path = result_path(args, 1).replace(".json", "-spans.json")
        with open(path, "w") as f:
            json.dump(tracer.to_json(), f)


def main(argv=None):
    args = parse_args(argv)
    result, detail = run(args)
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
