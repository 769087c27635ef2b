"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. One Spark app runs on local[4]
with a fixed 2 GB heap; every file it writes goes under
``.perfbench_work/<workload>-<pid>/`` in the checkout, removed at exit.

With ``--trace 0`` the last stdout line carries the end-to-end metrics; with
``--trace 1`` the Spark event log is on, every layer call runs in its own
span, and the last line carries the per-layer metrics instead. The line
before it is a report: input properties, sample counts and every raw
timing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORES = 4
HEAP_GB = 2


def isolate(work: str) -> None:
    """Point every temp and scratch location of Python, the JVM and Spark
    inside ``work`` and make the program importable by Python workers."""
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # a fixed heap (initial = max) so heap resizing neither adds latency
    # noise nor moves the resident set from run to run
    os.environ["KG_SPARK_DRIVER_MEM"] = f"{HEAP_GB}g"
    os.environ["KG_SPARK_JAVA_OPTS"] = (
        f"-Xms{HEAP_GB}g -XX:ParallelGCThreads={CORES} -XX:ConcGCThreads=2 "
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def stop_spark(spark) -> None:
    """Stop the app and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def setup(args, work: str, extra_conf: dict):
    """Start the app, make the inputs three times (median reported), load
    them and warm up. Returns the app, the workload and the set-up report."""
    from knowledgegraphbuilder_spark.session import build_session
    from perfbench.workloads import WORKLOADS

    conf = {"spark.sql.shuffle.partitions": str(CORES),
            "spark.ui.showConsoleProgress": "false"} | extra_conf
    spark = build_session(f"perfbench-{args.workload}", parallelism=CORES,
                          extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    jvm_s = time.perf_counter() - T_START
    wl = WORKLOADS[args.workload](spark, args.seed, work)
    prep = []
    for _ in range(3):
        t0 = time.perf_counter()
        wl.prepare()
        prep.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    wl.load()
    load_s = time.perf_counter() - t0
    wl.expect()
    warm_s = wl.warm()
    rep = {"jvm_start_s": jvm_s, "prepare_s": prep, "load_s": load_s, "warmup_s": warm_s,
           "setup_s": jvm_s + statistics.median(prep) + load_s + warm_s}
    return spark, wl, rep


def end_to_end(wl, seconds: float):
    from perfbench import proc

    proc.reset_peak_rss()
    steal0, total0 = proc.host_ticks()
    s = wl.measure(seconds)
    steal1, total1 = proc.host_ticks()
    lat = sorted(s.latencies)
    m = {
        "op_p50_s": (statistics.median(lat), "s"),
        "items_per_s": (s.items / s.busy_s, "1/s"),
        "cpu_s_per_1k_items": (1000.0 * s.cpu_s / s.items, "s"),
        "peak_rss_mb": (proc.tree_peak_rss_mb(), "MB"),
    }
    detail = {"ops": len(lat), "op_latencies_s": s.latencies, "op_parts": s.parts,
              "items": s.items, "error_rate": s.failed / s.attempted,
              "core_utilization": s.cpu_s / (s.busy_s * CORES),
              "steal_share": (steal1 - steal0) / max(total1 - total0, 1), **wl.report()}
    for key in (s.parts[0] if s.parts else {}):
        detail[key.replace("_s", "_p50_s")] = statistics.median(p[key] for p in s.parts)
    # a percentile above the median only when ten samples lie beyond it
    if len(lat) >= 100:
        detail["op_p90_s"] = statistics.quantiles(lat, n=10)[-1]
    return m, detail, s


def traced(spark, wl, seconds: float):
    """Untraced operations for half the run (at least one), then one traced
    operation."""
    from knowledgegraphbuilder_spark.operators.ner import GazetteerExtractor
    from knowledgegraphbuilder_spark.operators.relations import TemplateRelationBackend
    from perfbench import trace

    base = wl.measure(seconds / 2, min_ops=1)
    tracer = trace.Tracer(spark)
    be = trace.Backends.make(spark.sparkContext, GazetteerExtractor(wl.cfg.gazetteer),
                             TemplateRelationBackend())
    traced_s = wl.traced_op(tracer, be)
    info = {"traced_s": traced_s, "untraced_s": wl.untraced_cost(base),
            "accumulators": be.values(), "extras": wl.trace_extras()}
    return tracer, info, base


def per_layer(tracer, info: dict, log_dir: str, wl) -> dict:
    from perfbench import trace

    spans = tracer.spans
    tasks = trace.attribute(trace.parse_event_log(log_dir), spans)
    m = trace.layer_metrics(spans, tasks)
    acc = info["accumulators"]  # model seconds, chunks in, rows out per backend

    def rows(layer, size=None):
        return sum(s.rows_out for s in spans if s.name == layer and
                   (size is None or s.attrs.get("args", {}).get("a1") == size))

    def ratio(a, b):
        return a / b if b else 0.0

    cfg = wl.cfg
    m["operators.chunk.chunks_per_doc"] = ratio(rows("operators.chunk", cfg.ner_chunk_size),
                                                rows("operators.flatten"))
    for layer, key in (("operators.ner", "ner"), ("operators.relations", "re")):
        m[f"{layer}.backend_s"] = acc[key]["s"]
        m[f"{layer}.udf_boundary_s"] = m[f"{layer}.wall_s"] - acc[key]["s"]
    m["operators.ner.dedup_keep_ratio"] = ratio(rows("operators.ner"), acc["ner"]["out"])
    m["operators.relations.gate_pass_ratio"] = ratio(
        acc["re"]["chunks"], rows("operators.chunk", cfg.re_chunk_size))
    m["operators.relations.parse_keep_ratio"] = ratio(rows("operators.relations"),
                                                      acc["re"]["out"])
    per = trace.rollup(spans, tasks)
    m["plans.checkpoint.bytes_written"] = per["plans.checkpoint"].bytes_out
    # merge_upsert's own output: its spans are the sinks spans under streaming
    merges = [i for i, s in enumerate(spans) if s.attrs.get("fn") == "merge_upsert"]
    merged = trace.Tasks()
    for i in merges:
        merged.add(tasks.get(i, trace.Tasks()))
    relations_in = sum(s.rows_out for s in spans if s.name == "operators.relations"
                       and s.parent is not None and spans[s.parent].name == "streaming.ingest")
    m["sources.sinks.merge_upsert_s"] = sum(spans[i].end - spans[i].start for i in merges)
    m["sources.sinks.bytes_rewritten_per_batch"] = ratio(merged.bytes_out, len(merges))
    m["sources.sinks.write_amplification"] = ratio(merged.records_out, relations_in)
    m.update(info["extras"])
    m["tracing_overhead"] = info["traced_s"] / info["untraced_s"]
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    parent = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(parent, f"{args.workload}-{os.getpid()}")
    try:
        isolate(work)
        report, result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
    print(json.dumps(report, default=str))
    print(json.dumps(result))
    return 0


def run(args, work: str) -> tuple[dict, dict]:
    # fail fast, before a JVM starts, when the program is not in the checkout
    import knowledgegraphbuilder_spark  # noqa: F401
    from perfbench import trace
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    log_dir = os.path.join(work, "eventlog")
    spark = None
    try:
        spark, wl, report = setup(args, work,
                                  trace.event_log_conf(log_dir) if args.trace else {})
        report.update(workload=args.workload, seed=args.seed, trace=args.trace)
        if args.trace:
            tracer, info, base = traced(spark, wl, args.seconds)
            stop_spark(spark)
            spark = None
            metrics = per_layer(tracer, info, log_dir, wl)
            report.update(info, inputs=wl.inputs,
                          spans=[s.__dict__ for s in tracer.spans])
            s, units = base, {k: trace.unit_of(k) for k in metrics}
        else:
            m, detail, s = end_to_end(wl, args.seconds)
            m["setup_s"] = (report["setup_s"], "s")
            report.update(detail, inputs=wl.inputs)
            metrics, units = {k: v for k, (v, _) in m.items()}, {k: u for k, (_, u) in m.items()}
    finally:
        if spark is not None:
            stop_spark(spark)
    return report, {"correct": s.failed == 0, "attempted": s.attempted, "failed": s.failed,
                    "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}


if __name__ == "__main__":
    sys.exit(main())
