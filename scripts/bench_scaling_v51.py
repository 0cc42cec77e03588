"""N-vs-4N scaling pairs (protocol v5.1): the same KG-construction job on
the same input at local[N] and local[4N], each run in a fresh JVM pinned
to its cores, bracketed by host-speed probes and an external-load
monitor. Efficiency = (lo_sec / hi_sec) / 4.

The external-load gate is run-length invariant: it uses the fraction of
5 s samples that saw more than one external running thread, not the
maximum, since a long run is more likely to catch a single short blip at
identical host activity.

QUALIFICATION RULE (stated before any campaign is run):
a pair qualifies iff
  (a) both runs: ext_mean <= 0.25 and ext_frac_gt1 <= 0.02 (at most 2%
      of 5 s samples saw more than one external running thread; the
      worker's own descendant tree is excluded), and
  (b) both runs: steal_pct <= 1.0, and
  (c) host-speed agreement across the pair's THREE bracketing probes
      (before the first run, between the runs, after the second):
      max/min <= 1.10 for BOTH probe series (DRAM-triad GB/s and
      L2-resident Mop/s).
Pairs alternate run order (even pairs hi-first, odd pairs lo-first) so
within-phase drift biases alternate pairs in opposite directions.
scripts/scaling_model.py fits a pair's two walls to an Amdahl model.

Usage:
  python scripts/bench_scaling_v51.py --pages 400000 --pairs 12 \
      --n 2 --stop-after-qualifying 3
  python scripts/bench_scaling_v51.py --pages 20000 --pairs 1 --n 1 --quiet 0
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile
import threading
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
from perfbench.host import BW_PROBE, CPU_PROBE, cpu_ticks, run_probe, steal_pct  # noqa: E402

# One measured run per process: a fresh JVM per measurement removes
# cross-run pollution (plan caches, heap state). The corpus is written to
# parquet first, outside the measured window, so the pipeline starts from
# a disk scan; a short prefix run warms the JIT.
WORKER = r"""
import json, os, shutil, sys, tempfile, time
from concurrent.futures import ThreadPoolExecutor
sys.path.insert(0, os.environ["SCALE_REPO"])
from __spark_entry__ import _FIXED_NOW
from graphiti_spark.datagen import distributed_pages
from graphiti_spark.pipeline import run_pipeline
from graphiti_spark.session import get_spark

cpus = int(os.environ["SCALE_CPUS"])
n_pages = int(os.environ["SCALE_PAGES"])
pages_dir = os.environ["SCALE_PAGES_DIR"]
spark = get_spark("scale", master=f"local[{cpus}]")
spark.sparkContext.setLogLevel("ERROR")
if not os.path.exists(os.path.join(pages_dir, "_SUCCESS")):
    distributed_pages(spark, n_pages, seed=42, partitions=max(cpus * 2, 16)) \
        .write.mode("overwrite").parquet(pages_dir)
pages = spark.read.parquet(pages_dir)
run_pipeline(spark, pages.limit(min(2000, n_pages)), now=_FIXED_NOW)["edges"].count()
spark.catalog.clearCache()

out_dir = tempfile.mkdtemp(prefix="graphiti_scale_")
t0 = time.time()
res = run_pipeline(spark, pages, now=_FIXED_NOW)
with ThreadPoolExecutor(max_workers=3) as pool:
    for f in [
        pool.submit(lambda n=n: res[n].write.mode("overwrite").parquet(os.path.join(out_dir, n)))
        for n in ("nodes", "edges", "mentions")
    ]:
        f.result()
sec = time.time() - t0
n_triples = spark.read.parquet(os.path.join(out_dir, "edges")).count()
shutil.rmtree(out_dir, ignore_errors=True)
print("WORKER_RESULT " + json.dumps({"sec": sec, "triples": n_triples}))
spark.stop()
"""


def wait_for_quiet(threshold: float, max_wait_s: int = 1800) -> float:
    """Block until the 1-minute load average drops below `threshold` (or
    `max_wait_s` passes); returns the load seen. A run that overlaps an
    external load burst measures the host's contention, not the engine."""
    waited = 0
    while True:
        load = os.getloadavg()[0]
        if load < threshold or waited >= max_wait_s:
            return load
        time.sleep(15)
        waited += 15


def _external_rd_threads(root_pid: int) -> int:
    """Running (R) or uninterruptible (D) threads outside `root_pid`'s
    descendant tree, from ONE ps snapshot. The tree walk (not a process
    group filter) matters: pyspark.daemon calls setpgid, so the job's own
    Python workers live in their own process group."""
    try:
        out = subprocess.run(
            ["ps", "-eLo", "pid=,ppid=,stat=,comm="],
            capture_output=True, text=True, timeout=10,
        ).stdout
    except (OSError, subprocess.TimeoutExpired):
        return 0
    rows, children = [], {}
    for line in out.splitlines():
        parts = line.split(None, 3)
        if len(parts) < 4 or not parts[0].isdigit() or not parts[1].isdigit():
            continue
        pid, ppid = int(parts[0]), int(parts[1])
        rows.append((pid, parts[2], parts[3]))
        children.setdefault(ppid, []).append(pid)
    own, frontier = {root_pid}, [root_pid]
    while frontier:
        for c in children.get(frontier.pop(), ()):
            if c not in own:
                own.add(c)
                frontier.append(c)
    return sum(
        1
        for pid, stat, comm in rows
        if stat[:1] in ("R", "D") and comm != "ps" and pid not in own
    )


def one_run(cpus: int, pages: int, pages_dir: str) -> dict:
    """One fresh-JVM worker pinned to cores 0..cpus-1, sampled every 5 s
    for external load; steal share from /proc/stat across the run."""
    env = dict(
        os.environ,
        SCALE_REPO=REPO,
        SCALE_CPUS=str(cpus),
        SCALE_PAGES=str(pages),
        SCALE_PAGES_DIR=pages_dir,
        # same initial shuffle partitioning at both levels; AQE coalesces
        SPARK_GRAFT_SHUFFLE="64",
    )
    cmd = ["taskset", "-c", f"0-{cpus - 1}", sys.executable, "-c", WORKER]
    ticks0 = cpu_ticks()
    samples: list[int] = []
    stop = threading.Event()
    proc = subprocess.Popen(
        cmd, env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
        text=True, start_new_session=True,
    )

    def _mon():
        while not stop.wait(5):
            samples.append(_external_rd_threads(proc.pid))

    th = threading.Thread(target=_mon, daemon=True)
    th.start()
    try:
        stdout, stderr = proc.communicate(timeout=3000)
    finally:
        stop.set()
        th.join(timeout=2)
    n = max(len(samples), 1)
    for line in stdout.splitlines():
        if line.startswith("WORKER_RESULT "):
            r = json.loads(line[len("WORKER_RESULT "):])
            return {
                "cpus": cpus,
                "sec": round(r["sec"], 2),
                "triples": r["triples"],
                "steal_pct": round(steal_pct(ticks0, cpu_ticks()), 3),
                "ext_mean": round(sum(samples) / n, 3),
                "ext_frac_gt1": round(sum(1 for s in samples if s > 1) / n, 4),
                "n_samples": len(samples),
            }
    raise RuntimeError(f"worker local[{cpus}] failed:\n{stdout[-2000:]}\n{stderr[-2000:]}")


def _probes() -> dict:
    return {
        "bw_gbs": run_probe(BW_PROBE, "bw_gbs") or 0.0,
        "cpu_mops": run_probe(CPU_PROBE, "cpu_mops") or 0.0,
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--pages", type=int, default=400000)
    ap.add_argument("--pairs", type=int, default=12)
    ap.add_argument("--n", type=int, default=2)
    ap.add_argument("--quiet", type=float, default=1.5,
                    help="wait for 1-min loadavg below this before each pair (0: no wait)")
    ap.add_argument("--qualify-ext-frac", type=float, default=0.02)
    ap.add_argument("--qualify-ext-mean", type=float, default=0.25)
    ap.add_argument("--qualify-steal", type=float, default=1.0)
    ap.add_argument("--qualify-speed-ratio", type=float, default=1.10)
    ap.add_argument("--stop-after-qualifying", type=int, default=0)
    args = ap.parse_args()

    pages_dir = os.path.join(tempfile.gettempdir(), f"graphiti_scale_pages_{args.pages}")

    pairs = []
    for i in range(args.pairs):
        if args.quiet > 0:
            wait_for_quiet(args.quiet)
        p0 = _probes()
        order = ["hi", "lo"] if i % 2 == 0 else ["lo", "hi"]
        runs: dict[str, dict] = {}
        runs[order[0]] = one_run(args.n * (4 if order[0] == "hi" else 1), args.pages, pages_dir)
        p1 = _probes()
        runs[order[1]] = one_run(args.n * (4 if order[1] == "hi" else 1), args.pages, pages_dir)
        p2 = _probes()
        lo, hi = runs["lo"], runs["hi"]
        ext_ok = all(
            r["ext_frac_gt1"] <= args.qualify_ext_frac and r["ext_mean"] <= args.qualify_ext_mean
            for r in (lo, hi)
        )
        steal_ok = all(r["steal_pct"] <= args.qualify_steal for r in (lo, hi))
        bws = [p["bw_gbs"] for p in (p0, p1, p2)]
        mops = [p["cpu_mops"] for p in (p0, p1, p2)]
        speed_ok = (
            min(bws) > 0
            and min(mops) > 0
            and max(bws) / min(bws) <= args.qualify_speed_ratio
            and max(mops) / min(mops) <= args.qualify_speed_ratio
        )
        pair = {
            "pair": i + 1,
            "order": order,
            "probes": {"before": p0, "between": p1, "after": p2},
            "lo": lo,
            "hi": hi,
            "eff": round((lo["sec"] / hi["sec"]) / 4.0, 3),
            "ext_ok": ext_ok,
            "steal_ok": steal_ok,
            "speed_ok": speed_ok,
            "qualifies": ext_ok and steal_ok and speed_ok,
        }
        pairs.append(pair)
        print("PAIR " + json.dumps(pair), flush=True)
        n_q = sum(1 for p in pairs if p["qualifies"])
        if args.stop_after_qualifying and n_q >= args.stop_after_qualifying:
            break

    qeffs = [p["eff"] for p in pairs if p["qualifies"]]
    print(json.dumps({
        "protocol": "v5.1 minimal probe-bracketed pairs, length-invariant ext gate",
        "pages": args.pages,
        "triples": pairs[0]["lo"]["triples"] if pairs else None,
        "n_cpus": args.n,
        "n4_cpus": args.n * 4,
        "pairs_run": len(pairs),
        "eff_all": [p["eff"] for p in pairs],
        "eff_qualifying": qeffs,
        "eff_paired_median": round(statistics.median(qeffs), 3) if qeffs else None,
        "eff_min_qualifying": round(min(qeffs), 3) if qeffs else None,
        "eff_max_qualifying": round(max(qeffs), 3) if qeffs else None,
    }))


if __name__ == "__main__":
    main()
