"""Per-layer metrics of a traced run, named after graphiti_spark's modules.

Stage wall times and row counts come from the `metrics` list that
`run_pipeline` returns; executor CPU, shuffle, spill, GC and task counts
come from the event-log jobs attributed to spans (trace.attribute_jobs).
Times and counts are per window operation (one bulk build, one ingest
step) unless the name says otherwise.
"""

from __future__ import annotations

from perfbench.trace import Job, Span, covered, self_time

# name -> unit; BENCHMARK.json's per_layer list is exactly this table
PER_LAYER = {
    "udfs.extraction_s": "s",
    "udfs.extraction_cpu_s": "s",
    "udfs.extraction_rows": "count",
    "node_dedup.name_resolution_s": "s",
    "node_dedup.name_resolution_cpu_s": "s",
    "node_dedup.nodes_canonical_s": "s",
    "node_dedup.shuffle_bytes": "bytes",
    "node_dedup.merge_ratio": "ratio",
    "node_dedup.reingest_name_resolution_s": "s",
    "edge_ops.edges_dedup_s": "s",
    "edge_ops.edges_invalidate_s": "s",
    "edge_ops.edges_canon_map_s": "s",
    "edge_ops.edges_s": "s",
    "edge_ops.shuffle_bytes": "bytes",
    "edge_ops.invalidation_rows": "count",
    "edge_ops.canon_map_rows": "count",
    "pipeline.run_s": "s",
    "pipeline.mentions_s": "s",
    "pipeline.jobs": "count",
    "pipeline.tasks": "count",
    "pipeline.core_busy_share": "ratio",
    "lineage.fingerprint_s": "s",
    "lineage.checkpoint_bytes": "bytes",
    "lineage.checkpoint_files": "count",
    "lineage.resume_s": "s",
    "store.merge_upsert_s": "s",
    "store.reingest_merge_upsert_s": "s",
    "store.read_s": "s",
    "store.bytes_written": "bytes",
    "store.files": "count",
    "store.rewrite_ratio": "ratio",
    "search_p50_s": "s",
    "search_tail_s": "s",
    "search.jobs_per_query": "count",
    "search.tasks_per_query": "count",
    "search.results_per_query": "count",
    "graphiti.add_episode_bulk_self_s": "s",
    "graphiti.reingest_s": "s",
    "spark.gc_s": "s",
    "spark.spill_bytes": "bytes",
    "session.peak_rss_mb": "MB",
    "trace.overhead_s": "s",
    "trace.e2e_s": "s",
    "trace.untagged_share": "ratio",
}

# the window's operations; ingest_search's traced re-ingest
# (bench.reingest) runs after the window, outside them
OP_SPANS = ("bench.build", "bench.step")


class Trace:
    """Spans plus attributed jobs, with the lookups the metrics need."""

    def __init__(self, spans: dict[int, Span], jobs: dict[int, Job]):
        self.spans = spans
        self.jobs = jobs
        self.kids: dict[int | None, list[Span]] = {}
        for s in spans.values():
            self.kids.setdefault(s.parent, []).append(s)

    def named(self, name: str, under: tuple[str, ...] | None = None) -> list[Span]:
        out = [s for s in self.spans.values() if s.name == name]
        if under is not None:
            out = [s for s in out if self.ancestor_named(s, under)]
        return out

    def ancestor_named(self, s: Span, names: tuple[str, ...]) -> bool:
        while s is not None:
            if s.name in names:
                return True
            s = self.spans.get(s.parent) if s.parent else None
        return False

    def subtree(self, roots: list[Span]) -> set[int]:
        """Ids of `roots` and every span below them."""
        ids = {s.id for s in roots}
        frontier = list(roots)
        while frontier:
            for c in self.kids.get(frontier.pop().id, []):
                if c.id not in ids:
                    ids.add(c.id)
                    frontier.append(c)
        return ids

    def jobs_under(self, roots: list[Span]) -> list[Job]:
        ids = self.subtree(roots)
        return [j for j in self.jobs.values() if j.span in ids]

    def self_s(self, s: Span) -> float:
        return self_time(s, self.kids.get(s.id, []))


def _dur(spans: list[Span]) -> float:
    return sum((s.end or s.start) - s.start for s in spans)


def stage_stat(results: list[dict], stage: str, key: str) -> float:
    """Mean over pipeline results of a stage's `sec` or `rows`."""
    if not results:
        return 0.0
    tot = 0.0
    for r in results:
        for m in r["metrics"]:
            if m["stage"] == stage and m.get(key) is not None:
                tot += m[key]
    return tot / len(results)


def layer_metrics(
    tr: Trace,
    results: list[dict],
    n_ops: int,
    window: tuple[float, float],
    cores: int,
    extra: dict,
) -> dict[str, float]:
    """`window`: epoch (start, end) of the traced window. `extra` carries
    what the workload measured itself: checkpoint and store sizes, the
    re-ingest's wall, name-resolution time and store growth, search
    latencies and rows, peak RSS, the tracer's own cost and the traced
    run's e2e_s."""
    per = max(n_ops, 1)
    in_ops = lambda name: tr.named(name, under=OP_SPANS)  # noqa: E731

    def jobs_in(*stage_names: str) -> list[Job]:
        return tr.jobs_under([s for n in stage_names for s in in_ops(f"stage:{n}")])

    cpu = lambda js: sum(j.cpu_s for j in js) / per  # noqa: E731
    shuffle = lambda js: sum(j.shuffle_write_bytes for j in js) / per  # noqa: E731
    sec = lambda st: stage_stat(results, st, "sec")  # noqa: E731
    rows = lambda st: stage_stat(results, st, "rows")  # noqa: E731

    win_jobs = [j for j in tr.jobs.values() if window[0] <= j.submit <= window[1]]
    win_run = sum(j.run_s for j in win_jobs)
    pipe_spans = in_ops("pipeline.run_pipeline")
    pipe_jobs = tr.jobs_under(pipe_spans)
    merges = in_ops("store.merge_upsert")
    remerges = tr.named("store.merge_upsert", under=("bench.reingest",))
    queries = tr.named("bench.query")
    adds = in_ops("graphiti.add_episode_bulk")
    names = rows("name_resolution")
    written = sum(j.output_bytes for j in tr.jobs_under(remerges))
    growth = extra.get("reingest_growth_bytes", 0)

    m = {
        "udfs.extraction_s": sec("extraction"),
        "udfs.extraction_cpu_s": cpu(jobs_in("extraction")),
        "udfs.extraction_rows": rows("extraction"),
        "node_dedup.name_resolution_s": sec("name_resolution"),
        "node_dedup.name_resolution_cpu_s": cpu(jobs_in("name_resolution")),
        "node_dedup.nodes_canonical_s": sec("nodes_canonical"),
        "node_dedup.shuffle_bytes": shuffle(jobs_in("name_resolution", "nodes_canonical")),
        "node_dedup.merge_ratio": 1.0 - rows("nodes_canonical") / names if names else 0.0,
        "node_dedup.reingest_name_resolution_s": extra.get("reingest_name_resolution_s", 0.0),
        "edge_ops.edges_dedup_s": sec("edges_dedup"),
        "edge_ops.edges_invalidate_s": sec("edges_invalidate"),
        "edge_ops.edges_canon_map_s": sec("edges_canon_map"),
        "edge_ops.edges_s": sec("edges"),
        "edge_ops.shuffle_bytes": shuffle(
            jobs_in("edges_dedup", "edges_invalidate", "edges_canon_map", "edges")
        ),
        "edge_ops.invalidation_rows": rows("edges_invalidate"),
        "edge_ops.canon_map_rows": rows("edges_canon_map"),
        "pipeline.run_s": _dur(pipe_spans) / per,
        "pipeline.mentions_s": sec("mentions"),
        "pipeline.jobs": len(pipe_jobs) / per,
        "pipeline.tasks": sum(j.tasks for j in pipe_jobs) / per,
        "pipeline.core_busy_share": win_run / ((window[1] - window[0]) * cores),
        "lineage.fingerprint_s": _dur(tr.named("lineage.df_fingerprint")),
        "lineage.checkpoint_bytes": extra.get("checkpoint_bytes", 0),
        "lineage.checkpoint_files": extra.get("checkpoint_files", 0),
        "lineage.resume_s": extra.get("resume_s", 0.0),
        "store.merge_upsert_s": _dur(merges) / per,
        "store.reingest_merge_upsert_s": _dur(remerges),
        "store.read_s": _dur(in_ops("store.read")) / per,
        "store.bytes_written": written,
        "store.files": extra.get("store_files", 0),
        "store.rewrite_ratio": written / growth if growth > 0 else 0.0,
        "search_p50_s": extra["search_p50_s"],
        "search_tail_s": extra["search_tail_s"],
        "search.jobs_per_query": len(tr.jobs_under(queries)) / max(len(queries), 1),
        "search.tasks_per_query": sum(j.tasks for j in tr.jobs_under(queries))
        / max(len(queries), 1),
        "search.results_per_query": extra.get("results_per_query", 0.0),
        "graphiti.add_episode_bulk_self_s": sum(tr.self_s(s) for s in adds) / max(len(adds), 1),
        "graphiti.reingest_s": extra.get("reingest_s", 0.0),
        "spark.gc_s": sum(j.gc_s for j in win_jobs),
        "spark.spill_bytes": sum(j.spill_bytes for j in win_jobs),
        "session.peak_rss_mb": extra.get("peak_rss_mb", 0.0),
        "trace.overhead_s": extra["trace_overhead_s"],
        "trace.e2e_s": extra["trace_e2e_s"],
        "trace.untagged_share": (
            sum(j.run_s for j in win_jobs if not j.tagged) / win_run if win_run else 0.0
        ),
    }
    if set(m) != set(PER_LAYER):
        raise RuntimeError(f"per-layer names out of step: {set(m) ^ set(PER_LAYER)}")
    return m


def _union(spans: list[Span]) -> float:
    return covered((s.start, s.end or s.start) for s in spans)


def coverage_lines(tr: Trace) -> list[str]:
    """How much of each window operation the stage, write and store spans
    cover; the rest is run_pipeline's and the operation's own self time,
    where untagged jobs are charged."""
    lines = []
    for op in (s for n in OP_SPANS for s in tr.named(n)):
        inside = [tr.spans[i] for i in tr.subtree([op]) - {op.id}]
        stages = [s for s in inside if s.name.startswith("stage:")]
        other = [s for s in inside if s.name in ("bench.write", "store.merge_upsert", "bench.query")]
        pipes = [s for s in inside if s.name == "pipeline.run_pipeline"]
        lines.append(
            f"{op.name} wall {(op.end or op.start) - op.start:.2f}s: stage spans cover "
            f"{_union(stages):.2f}s, writes/store/queries {_union(other):.2f}s; self time "
            f"run_pipeline {sum(tr.self_s(p) for p in pipes):.2f}s, {op.name} {tr.self_s(op):.2f}s"
        )
    return lines


def span_table(tr: Trace) -> list[str]:
    """One line per span name: calls, wall, self time, and the executor work
    of the jobs attributed to it (not its children)."""
    by: dict[str, dict] = {}
    for s in tr.spans.values():
        row = by.setdefault(
            s.name,
            {"n": 0, "wall": 0.0, "self": 0.0, "jobs": 0, "tasks": 0, "run": 0.0, "cpu": 0.0,
             "shr": 0, "shw": 0},
        )
        row["n"] += 1
        row["wall"] += (s.end or s.start) - s.start
        row["self"] += tr.self_s(s)
    for j in tr.jobs.values():
        if j.span is None:
            continue
        row = by[tr.spans[j.span].name]
        row["jobs"] += 1
        row["tasks"] += j.tasks
        row["run"] += j.run_s
        row["cpu"] += j.cpu_s
        row["shr"] += j.shuffle_read_bytes
        row["shw"] += j.shuffle_write_bytes
    lines = [
        f"{'span':34} {'calls':>5} {'wall_s':>8} {'self_s':>8} {'jobs':>5} {'tasks':>6} "
        f"{'run_s':>7} {'cpu_s':>7} {'shuffle_r':>10} {'shuffle_w':>10}"
    ]
    for name, r in sorted(by.items(), key=lambda kv: -kv[1]["wall"]):
        lines.append(
            f"{name:34} {r['n']:5d} {r['wall']:8.2f} {r['self']:8.2f} {r['jobs']:5d} "
            f"{r['tasks']:6d} {r['run']:7.2f} {r['cpu']:7.2f} {r['shr']:10d} {r['shw']:10d}"
        )
    return lines
