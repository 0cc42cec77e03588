"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload bulk_build --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones; with --trace 1 the per-layer ones from
spans and the Spark event log, after a per-span table. A line before it
holds the host record. A failed correctness check exits with code 1.
See perfbench/README.md for every metric's definition.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# name -> unit; BENCHMARK.json's end_to_end list is exactly this table
END_TO_END = {
    "e2e_s": "s",
    "triples_per_s": "triples/s",
    "setup_s": "s",
    "ingest_p50_s": "s",
    "triple_precision": "ratio",
    "triple_recall": "ratio",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("bulk_build", "ingest_search"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def tail_percentile(xs: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest percentile of `xs` with at least
    ten samples beyond it, or the maximum when there are fewer than
    eleven samples."""
    xs = sorted(xs)
    if len(xs) <= 10:
        return 100.0, xs[-1]
    k = len(xs) - 11  # ten samples lie above index k
    return 100.0 * (k + 1) / len(xs), xs[k]


def pin_environment(work: str) -> dict:
    """Session pinning done by the benchmark only: all cores, a driver heap
    sized from /proc/meminfo, and every scratch file inside `work`."""
    from perfbench import host

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cores = os.cpu_count() or 1
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = host.driver_memory()
    return {
        "cores": cores,
        "driver_memory": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        # one shuffle partition per core rather than session.py's
        # cluster-sized 64, whose per-task cost dominates on a small host
        "shuffle_partitions": cores,
        "conf": {
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    }


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)


def main(argv=None) -> int:
    t_process = time.perf_counter()
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    import graphiti_spark  # noqa: F401  (fails fast outside a checkout)

    from perfbench import host, layers, trace, workloads

    base = os.path.join(ROOT, ".perfbench_work")
    shutil.rmtree(base, ignore_errors=True)  # a killed run's leftovers
    work = os.path.join(base, f"{args.workload}-{args.seed}")
    pinned = pin_environment(work)
    t0 = time.perf_counter()
    host_rec = host.host_record()
    probes_s = time.perf_counter() - t0
    steal0 = host.cpu_ticks()

    from graphiti_spark.session import get_spark

    t_start = time.perf_counter()
    conf = dict(pinned["conf"])
    event_dir = os.path.join(work, "eventlog")
    if args.trace:
        os.makedirs(event_dir)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_dir,
                "spark.eventLog.compress": "false",
            }
        )
    t0 = time.perf_counter()
    spark = get_spark(
        "perfbench",
        master=f"local[{pinned['cores']}]",
        shuffle_partitions=pinned["shuffle_partitions"],
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0

    tracer = None
    try:
        w = workloads.WORKLOADS[args.workload](spark, args.seed, work)
        setup_s = session_s + w.setup()
        rss = None
        if args.trace:
            tracer = trace.Tracer(spark.sparkContext)
            trace.install_program_spans(tracer)
            w.tracer = tracer
            rss = host.RssSampler().start()
        t_win = time.time()
        w.window(args.seconds)
        window = (t_win, time.time())
        peak_rss_mb = rss.stop() if rss else 0.0
        t0 = time.perf_counter()
        w.after_window()
        after_s = time.perf_counter() - t0
        extra = w.layer_extras() if tracer else {}
        t0 = time.perf_counter()
        check = w.check()
        check_s = time.perf_counter() - t0
    finally:
        if tracer is not None:
            tracer.uninstall()
        t0 = time.perf_counter()
        stop_session(spark)
        stop_s = time.perf_counter() - t0

    # a run whose operations failed reports 0.0 for their timings (and
    # correct: false)
    pct, tail = tail_percentile(w.searches or [0.0])
    e2e = statistics.median(w.ops or [0.0])
    end_to_end = {
        "e2e_s": e2e,
        "triples_per_s": w.triples / w.window_s if w.window_s else 0.0,
        "setup_s": setup_s,
        "ingest_p50_s": statistics.median(w.ingest or [0.0]),
        "triple_precision": check.get("triple_precision", 0.0),
        "triple_recall": check.get("triple_recall", 0.0),
    }
    record = {
        "perfbench": args.workload,
        "seed": args.seed,
        "host": host_rec,
        "steal_pct": host.steal_pct(steal0, host.cpu_ticks()),
        "loadavg_end": list(os.getloadavg()),
        "driver_memory": pinned["driver_memory"],
        "start_s": t_start - t_process,
        "probes_s": probes_s,
        "session_s": session_s,
        "window_s": w.window_s,
        "after_window_s": after_s,
        "check_s": check_s,
        "stop_s": stop_s,
        "ops": len(w.ops),
        "ingest_samples": len(w.ingest),
        "search_samples": len(w.searches),
        "search_tail_percentile": pct,
        "check_triples": check.get("check_triples"),
        **w.record(),
        "process_s": time.perf_counter() - t_process,
    }
    print(json.dumps(record))

    if args.trace:
        jobs = trace.parse_event_log(trace.event_log_files(event_dir))
        trace.attribute_jobs(tracer.spans, jobs)
        tr = layers.Trace(tracer.spans, jobs)
        for line in layers.span_table(tr) + layers.coverage_lines(tr):
            print(line)
        extra.update(
            search_p50_s=statistics.median(w.searches or [0.0]),
            search_tail_s=tail,
            peak_rss_mb=peak_rss_mb,
            trace_overhead_s=tracer.overhead_s / max(len(w.ops), 1),
            trace_e2e_s=e2e,
        )
        metrics = layers.layer_metrics(tr, w.results, len(w.ops), window, pinned["cores"], extra)
        print(
            f"untagged share of window executor time: {metrics['trace.untagged_share']:.1%}"
        )
        units = layers.PER_LAYER
        out_metrics = {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}
    else:
        out_metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in end_to_end.items()}

    correct = w.count.failed == 0
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": w.count.attempted,
                "failed": w.count.failed,
                "metrics": out_metrics,
            }
        )
    )
    sys.stdout.flush()
    shutil.rmtree(base, ignore_errors=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
