"""Spans around graphiti_spark's public boundaries, Spark job tags, and the
event-log reader that attributes executor work to those spans.

Only traced runs (``--trace 1``) use this module. The program itself is not
edited: `Tracer.wrap` replaces a public function or method with a wrapper
for the length of the run and `Tracer.uninstall` puts the original back.

Each span adds a Spark job tag (``pbspan-<id>``) to its thread for its
duration, so every job that thread launches names the spans it ran under.
Thread-pool threads inside the program start without tags; their jobs are
"untagged" and are charged by time to the innermost open span of the main
thread, i.e. they show up as that span's self time, never dropped.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass

TAG_PREFIX = "pbspan-"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    thread: int
    start: float  # epoch seconds, the event log's clock
    end: float | None = None
    depth: int = 0


class Tracer:
    """In-memory span recorder. `sc` (a SparkContext) may be None, which
    records spans without tagging jobs."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: dict[int, Span] = {}
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._stacks: dict[int, list[int]] = {}  # thread ident -> open span ids
        self._patches: list[tuple[object, str, object]] = []
        self.overhead_s = 0.0  # time spent recording spans and tagging jobs

    def _parent_of_new_span(self, tid: int) -> int | None:
        stack = self._stacks.get(tid)
        if stack:
            return stack[-1]
        # a pool thread's first span hangs under whatever the main thread
        # (which owns every pool in the program) has open
        main = self._stacks.get(threading.main_thread().ident)
        return main[-1] if main else None

    @contextmanager
    def span(self, name: str):
        t_in = time.perf_counter()
        tid = threading.get_ident()
        with self._lock:
            parent = self._parent_of_new_span(tid)
            sid = next(self._ids)
            depth = self.spans[parent].depth + 1 if parent else 0
            s = Span(sid, name, parent, tid, time.time(), depth=depth)
            self.spans[sid] = s
            self._stacks.setdefault(tid, []).append(sid)
        tag = f"{TAG_PREFIX}{sid}"
        if self.sc is not None:
            self.sc.addJobTag(tag)
        t_body = time.perf_counter()
        try:
            yield s
        finally:
            t_out = time.perf_counter()
            if self.sc is not None:
                self.sc.removeJobTag(tag)
            s.end = time.time()
            with self._lock:
                self._stacks[tid].pop()
                self.overhead_s += (t_body - t_in) + (time.perf_counter() - t_out)

    def wrap(self, owner, attr: str, name: str, arg_suffix: int | None = None):
        """Replace `owner.attr` (a module function or a class's plain method)
        by a spanned wrapper. With `arg_suffix`, the positional argument at
        that index is appended to the span name (StageRunner.run's stage)."""
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            label = name if arg_suffix is None else f"{name}:{args[arg_suffix]}"
            with self.span(label):
                return orig(*args, **kwargs)

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)


def install_program_spans(tracer: Tracer) -> None:
    """The public boundaries a traced run wraps (see README.md)."""
    from graphiti_spark import graphiti, lineage, pipeline, search_recipes, store

    tracer.wrap(lineage.StageRunner, "run", "stage", arg_suffix=1)
    tracer.wrap(lineage, "df_fingerprint", "lineage.df_fingerprint")
    # graphiti.py binds run_pipeline by name at import, so both names wrap
    tracer.wrap(pipeline, "run_pipeline", "pipeline.run_pipeline")
    tracer.wrap(graphiti, "run_pipeline", "pipeline.run_pipeline")
    tracer.wrap(graphiti.GraphitiSpark, "add_episode_bulk", "graphiti.add_episode_bulk")
    tracer.wrap(graphiti.GraphitiSpark, "search", "graphiti.search")
    tracer.wrap(store.ParquetStore, "read", "store.read")
    tracer.wrap(store.ParquetStore, "merge_upsert", "store.merge_upsert")
    tracer.wrap(search_recipes, "search", "search_recipes.search")


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------


@dataclass
class Job:
    id: int
    submit: float  # epoch seconds
    tags: list[str]
    stages: list[int]
    tasks: int = 0
    run_s: float = 0.0  # executor run time
    cpu_s: float = 0.0  # executor CPU time
    gc_s: float = 0.0
    spill_bytes: int = 0  # memory + disk spill
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    output_bytes: int = 0
    span: int | None = None
    tagged: bool = False


def event_log_files(log_dir: str) -> list[str]:
    """The event files of the single application logged under `log_dir`, in
    order. Spark writes either one file or, with rolling logs, a directory
    of `events_<n>_<app>` files."""
    apps = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(apps) != 1:
        raise RuntimeError(f"expected one application log in {log_dir}, found {apps}")
    path = os.path.join(log_dir, apps[0])
    if not os.path.isdir(path):
        return [path]
    events = [f for f in os.listdir(path) if f.startswith("events_")]
    events.sort(key=lambda f: int(f.split("_")[1]))
    return [os.path.join(path, f) for f in events]


def _lines(paths: list[str]):
    for p in paths:
        with open(p) as f:
            yield from f


def parse_event_log(paths: list[str]) -> dict[int, Job]:
    """Jobs with the task metrics of every task their stages ran.

    A stage belongs to the first job that lists it; later jobs that list it
    again only skip it, so its tasks are counted once."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for line in _lines(paths):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            tags = [t for t in (props.get("spark.job.tags") or "").split(",") if t]
            job = Job(
                id=ev["Job ID"],
                submit=ev["Submission Time"] / 1000.0,
                tags=tags,
                stages=list(ev.get("Stage IDs", [])),
            )
            jobs[job.id] = job
            for sid in job.stages:
                stage_job.setdefault(sid, job.id)
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(ev.get("Stage ID"), -1))
            tm = ev.get("Task Metrics")
            if job is None or not tm:
                continue
            job.tasks += 1
            job.run_s += tm.get("Executor Run Time", 0) / 1000.0
            job.cpu_s += tm.get("Executor CPU Time", 0) / 1e9
            job.gc_s += tm.get("JVM GC Time", 0) / 1000.0
            job.spill_bytes += tm.get("Memory Bytes Spilled", 0) + tm.get(
                "Disk Bytes Spilled", 0
            )
            sr = tm.get("Shuffle Read Metrics") or {}
            job.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            sw = tm.get("Shuffle Write Metrics") or {}
            job.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
            om = tm.get("Output Metrics") or {}
            job.output_bytes += om.get("Bytes Written", 0)
    return jobs


def attribute_jobs(spans: dict[int, Span], jobs: dict[int, Job]) -> None:
    """Set `job.span`: the deepest span among the job's tags, or for an
    untagged job the deepest main-thread span open at its submission."""
    main = threading.main_thread().ident
    for job in jobs.values():
        ids = [int(t[len(TAG_PREFIX):]) for t in job.tags if t.startswith(TAG_PREFIX)]
        ids = [i for i in ids if i in spans]
        if ids:
            job.span = max(ids, key=lambda i: spans[i].depth)
            job.tagged = True
            continue
        open_main = [
            s
            for s in spans.values()
            if s.thread == main
            and s.start <= job.submit
            and (s.end is None or job.submit <= s.end)
        ]
        if open_main:
            job.span = max(open_main, key=lambda s: s.depth).id


def covered(intervals) -> float:
    """Length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for a, b in sorted(intervals):
        if b <= a:
            continue
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span: Span, children: list[Span]) -> float:
    """Span duration minus the union of its children's intervals."""
    end = span.end if span.end is not None else span.start
    return (end - span.start) - covered(
        (max(c.start, span.start), min(c.end or end, end)) for c in children
    )
