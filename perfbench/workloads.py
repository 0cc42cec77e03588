"""The benchmark's workloads: inputs from `datagen` seeded by `--seed`, an
input set-up phase, a timed window of operations, and the correctness check.

bulk_build     in-memory `pipeline.run_pipeline` over a crawl, then the
               nodes/edges/mentions parquet write (the paper's batch job);
               after the window, a query phase searches the written graph.
ingest_search  one client in a closed loop against a `GraphitiSpark`
               facade over a fresh `ParquetStore`: each step ingests a batch
               with `add_episode_bulk`, then searches entities it ingested.
               Traced runs then ingest one more batch over the same hosts,
               which resolves against stored nodes and merges into live
               partitions.

Every run starts a fresh JVM, and the window's first operation is the
first run of its code path in that JVM (see README.md, "Design choices").
Every operation and check counts in `attempted`; those that raise or fail
count in `failed`.
"""

from __future__ import annotations

import contextlib
import os
import random
import shutil
import statistics
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from datetime import datetime, timezone

from pyspark.sql import functions as F

from graphiti_spark import pipeline
from graphiti_spark.datagen import ScaledVocab, page_rows_for_index
from graphiti_spark.extraction import PREDICATE_LEXICON, extract_triples
from graphiti_spark.graphiti import GraphitiSpark
from graphiti_spark.oracle import ingest_episodes, precision_recall, triple_set
from graphiti_spark.schemas import WEB_PAGES

# Fixed reference time, so no output depends on the wall clock.
NOW = datetime(2026, 1, 1, tzinfo=timezone.utc)
# datagen.page_rows_for_index spreads pages over this many url hosts; the
# host is the group_id, and dedup never crosses groups.
N_HOSTS = 64
# The repository's triple P/R gate (tests/test_pipeline_e2e.py).
MIN_PRECISION = MIN_RECALL = 0.95
BULK_PAGES = 2000  # crawl size of one bulk build; sizes every vocabulary
BULK_QUERIES = 2  # searches over the written graph, after a traced window
# pages of the crawl a traced run takes through the durable pipeline: the
# whole crawl took 86 s in a traced run at 20% CPU steal, which took the
# run past its 180 s limit
DURABLE_PAGES = 128
# Groups checked against the sequential oracle, which is quadratic per
# group: at 24k pages the full oracle does not finish in ten minutes.
BULK_CHECK_GROUPS = 8

# an add_episode_bulk batch: PAGES_PER_HOST pages of each of BATCH_HOSTS
# hosts. Over 30 seeds, the quartile distance of a batch's edge count was
# 7% of its median with 40 pages and 15% with 20
BATCH_HOSTS = 20
PAGES_PER_HOST = 2
STEP_QUERIES = 2  # searches after each ingest


def host_of(url: str) -> str:
    return url.split("/")[2]


def crawl_rows(ids, vocab: ScaledVocab, seed: int) -> list[dict]:
    """The rows `datagen.distributed_pages` yields for these page ids (a
    pure function of seed, page id and vocabulary), built on the driver."""
    rows: list[dict] = []
    for i in ids:
        rows.extend(page_rows_for_index(i, vocab, seed))
    return rows


def relation_phrase(predicate: str, fact: str) -> str:
    low = fact.lower()
    return next(p for p, name in PREDICATE_LEXICON if name == predicate and p in low)


def pick_queries(rows: list[dict], rng: random.Random, k: int) -> list[tuple[str, str]]:
    """(query, group) pairs. Each query names the subject of a fact the rows
    assert, followed by the fact's relation phrase ("Maria Steel studied
    at"), so it has at least one matching edge in its group."""
    cands = sorted(
        {
            (
                f"{t['subject']} {relation_phrase(t['predicate'], t['fact'])}",
                host_of(r["url"]),
            )
            for r in rows
            if r["lang"] == "en"
            for t in extract_triples(r["text"], r["warc_ts"])
        }
    )
    return rng.sample(cands, min(k, len(cands)))


def oracle_triples(rows: list[dict], hosts: set[str]) -> set[tuple]:
    eps = [
        {
            "uuid": f"{r['url']}@{r['warc_ts'].isoformat()}",
            "group_id": host_of(r["url"]),
            "content": r["text"],
            "valid_at": r["warc_ts"],
        }
        for r in rows
        if r["lang"] == "en" and host_of(r["url"]) in hosts
    ]
    return triple_set(ingest_episodes(eps, NOW))


def graph_triples(nodes, edges, hosts: set[str]) -> set[tuple]:
    """The oracle's triple identity over Spark node/edge tables: a node's
    canonical name is the least of its aliases."""
    hosts = sorted(hosts)
    n = nodes.filter(F.col("group_id").isin(hosts)).select(
        "uuid", F.array_min("aliases").alias("cname")
    )
    e = (
        edges.filter(F.col("group_id").isin(hosts))
        .join(n.toDF("source_node_uuid", "subj"), "source_node_uuid")
        .join(n.toDF("target_node_uuid", "obj"), "target_node_uuid")
        .select("group_id", "subj", "name", "obj", "norm_fact")
    )
    return {tuple(r) for r in e.collect()}


def stage_value(result: dict | None, stage: str, key: str = "rows"):
    """A run_pipeline stage's `rows` or `sec`, from its `metrics`."""
    if result is None:
        return None
    return next((m.get(key) for m in result["metrics"] if m["stage"] == stage), None)


def parquet_files(root: str) -> list[str]:
    return [
        os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs if f.endswith(".parquet")
    ]


class Counter:
    """attempted / failed accounting; `run` times one operation."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def run(self, what: str, fn):
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception:
            self.failed += 1
            print(f"[perfbench] {what} failed:", file=sys.stderr)
            traceback.print_exc()
            return None, time.perf_counter() - t0
        return out, time.perf_counter() - t0

    def check(self, what: str, ok: bool, detail: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"[perfbench] check {what} failed: {detail}", file=sys.stderr)
        return ok


class Workload:
    """Shared run logic. Subclasses provide `setup` (everything before the
    window that is not the session start), `_op` (one window operation),
    `_between_ops`, `after_window`, `record`, `layer_extras` and `check`."""

    name = ""

    def __init__(self, spark, seed: int, work: str):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.count = Counter()
        self.vocab = ScaledVocab(BULK_PAGES, seed)
        self.ops: list[float] = []  # op walls in the window
        self.ingest: list[float] = []
        self.searches: list[float] = []
        self.search_rows: list[int] = []
        self.results: list[dict] = []  # run_pipeline outputs of the window
        self.window_s = 0.0
        self.triples = 0  # canonical edges the window produced
        self.tracer = None  # set for traced runs

    def span(self, name: str):
        """Marks a benchmark boundary in traced runs; a no-op otherwise."""
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    def rng(self, what) -> random.Random:
        """A generator of its own per use, so query choices do not depend
        on how many operations a window ran."""
        return random.Random(f"{self.name}:{what}:{self.seed}")

    def window(self, seconds: float) -> None:
        """Run operations until `seconds` have passed, at least one."""
        t0 = time.perf_counter()
        k = 0
        while True:
            self._op(k)
            k += 1
            if time.perf_counter() - t0 >= seconds:
                self.window_s = time.perf_counter() - t0
                return
            self._between_ops()

    def query(self, g: GraphitiSpark, q: str, group: str) -> float:
        """One search, its rows collected; returns its wall time."""

        def one():
            with self.span("bench.query"):
                return len(g.search(q, group_ids=[group]).collect())

        n, dt = self.count.run(f"search {q!r}", one)
        if n is not None:
            self.search_rows.append(n)
            self.searches.append(dt)
        return dt

    def record(self) -> dict:
        """Workload facts for the run record."""
        if not self.results:
            return {}
        # how much of an operation run_pipeline's stages account for
        stage_s = sum(m["sec"] for m in self.results[-1]["metrics"])
        return {"stage_share": stage_s / self.ops[-1]}

    def layer_extras(self) -> dict:
        """Per-layer inputs the workload measures itself (traced runs)."""
        rows = self.search_rows
        return {"results_per_query": statistics.median(rows) if rows else 0}

    def check_searches(self) -> None:
        empty = sum(1 for n in self.search_rows if n == 0)
        self.count.check(
            "searches",
            bool(self.search_rows) and empty == 0,
            f"{empty} of {len(self.search_rows)} searches returned no rows",
        )

    def check_triples(self, got: set, ref: set) -> dict:
        p, r = precision_recall(got, ref)
        self.count.check(
            "triple_pr",
            p >= MIN_PRECISION and r >= MIN_RECALL,
            f"precision {p:.4f} recall {r:.4f} (spark {len(got)}, oracle {len(ref)})",
        )
        return {"triple_precision": p, "triple_recall": r, "check_triples": len(ref)}


class BulkBuild(Workload):
    name = "bulk_build"

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.pages = None
        self.out = os.path.join(self.work, "bulk_out")
        self.rows = crawl_rows(range(BULK_PAGES), self.vocab, self.seed)

    def setup(self) -> float:
        """The crawl, cached and counted. Rows come from the generator that
        `datagen.distributed_pages` maps over, run on the driver: the same
        rows at a fraction of the cost of starting Python workers."""
        t0 = time.perf_counter()
        self._input()
        return time.perf_counter() - t0

    def _pages(self, rows: list[dict]):
        return self.spark.createDataFrame(
            [tuple(r[f] for f in WEB_PAGES.fieldNames()) for r in rows], WEB_PAGES
        )

    def _input(self):
        if self.pages is not None:
            self.pages.unpersist()
        self.pages = self._pages(self.rows).cache()
        self.pages.count()

    def _op(self, k: int):
        def build():
            with self.span("bench.build"):
                t0 = time.perf_counter()
                result = pipeline.run_pipeline(self.spark, self.pages, now=NOW)
                self.ingest.append(time.perf_counter() - t0)

                def write(t):
                    with self.span("bench.write"):
                        result[t].write.mode("overwrite").parquet(os.path.join(self.out, t))

                # the three tables write concurrently, as bench.py does
                with ThreadPoolExecutor(max_workers=3) as pool:
                    for f in [pool.submit(write, t) for t in ("nodes", "edges", "mentions")]:
                        f.result()
                result["release"]()
                return result

        result, dt = self.count.run("bulk build", build)
        if result is not None:
            self.ops.append(dt)
            self.results.append(result)

    def _between_ops(self):
        self.spark.catalog.clearCache()
        shutil.rmtree(self.out, ignore_errors=True)
        self._input()  # clearCache dropped the cached crawl

    def after_window(self):
        """Counts the window's edges. Traced runs also search the written
        graph, for the search layer's metrics (not part of e2e_s)."""
        if not self.results:
            return  # the build failed: nothing to search
        # the in-memory pipeline materializes and counts its edge table
        # below a million edges; above that it is counted from the output
        edges = stage_value(self.results[-1], "edges")
        if edges is None:
            edges = self.spark.read.parquet(os.path.join(self.out, "edges")).count()
        self.triples = edges * len(self.ops)
        if not self.tracer:
            return
        g = GraphitiSpark(self.spark, self.out)
        rng = self.rng("query")
        rows = crawl_rows(rng.sample(range(BULK_PAGES), 8 * BULK_QUERIES), self.vocab, self.seed)
        for q, grp in pick_queries(rows, rng, BULK_QUERIES):
            self.query(g, q, grp)

    def check(self) -> dict:
        if not self.results:
            self.count.check("triple_pr", False, "no bulk build completed")
            return {}
        rng = self.rng("check")
        hosts = {f"site{h}.example" for h in rng.sample(range(N_HOSTS), BULK_CHECK_GROUPS)}
        rows = [r for r in self.rows if host_of(r["url"]) in hosts]
        ref = oracle_triples(rows, hosts)
        read = lambda t: self.spark.read.parquet(os.path.join(self.out, t))  # noqa: E731
        out = self.check_triples(graph_triples(read("nodes"), read("edges"), hosts), ref)
        if self.tracer:
            self.check_searches()
        return out

    def layer_extras(self) -> dict:
        """Traced runs also take the crawl's first DURABLE_PAGES pages
        through the durable pipeline (parquet checkpoint + manifest per
        stage), then again to resume."""
        ckpt = os.path.join(self.work, "checkpoints")
        pages = self._pages(crawl_rows(range(DURABLE_PAGES), self.vocab, self.seed)).cache()
        with self.span("bench.durable_build"):
            pipeline.run_pipeline(self.spark, pages, now=NOW, checkpoint_dir=ckpt)
        t0 = time.perf_counter()
        with self.span("bench.durable_resume"):
            pipeline.run_pipeline(self.spark, pages, now=NOW, checkpoint_dir=ckpt)
        resume_s = time.perf_counter() - t0
        files = parquet_files(ckpt)
        return {
            **super().layer_extras(),
            "resume_s": resume_s,
            "checkpoint_files": len(files),
            "checkpoint_bytes": sum(os.path.getsize(f) for f in files),
        }


class IngestSearch(Workload):
    name = "ingest_search"

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.store = os.path.join(self.work, "store")
        self.g = GraphitiSpark(self.spark, self.store)
        # every batch crawls the next pages of the same seed-chosen hosts
        self.hosts = sorted(self.rng("hosts").sample(range(N_HOSTS), BATCH_HOSTS))
        self.batches: dict[int, list[dict]] = {}
        self.ingested: list[dict] = []

    def batch(self, k: int) -> list[dict]:
        if k not in self.batches:
            rounds = range(k * PAGES_PER_HOST, (k + 1) * PAGES_PER_HOST)
            ids = [r * N_HOSTS + h for r in rounds for h in self.hosts]
            # the reference's add_episode_bulk takes episodes with a
            # group_id; the group is the url host, as in bulk_build
            self.batches[k] = [
                {**r, "group_id": host_of(r["url"])}
                for r in crawl_rows(ids, self.vocab, self.seed)
            ]
        return self.batches[k]

    def setup(self) -> float:
        """Generates the window's first batch on the client."""
        t0 = time.perf_counter()
        self.batch(0)
        return time.perf_counter() - t0

    def _ingest(self, k: int, span: str):
        """add_episode_bulk of batch k; returns (result or None, wall)."""
        batch = self.batch(k)

        def ingest():
            with self.span(span):
                return self.g.add_episode_bulk(batch)

        result, dt = self.count.run(f"ingest batch {k}", ingest)
        if result is not None:
            self.ingested.extend(batch)
        return result, dt

    def _op(self, k: int):
        queries = pick_queries(self.batch(k), self.rng(k), STEP_QUERIES)
        with self.span("bench.step"):
            result, dt = self._ingest(k, "bench.ingest")
            step_s = dt + sum(self.query(self.g, q, grp) for q, grp in queries)
        if result is not None:
            self.ingest.append(dt)
            self.results.append(result)
            self.ops.append(step_s)

    def _between_ops(self):
        pass  # the store carries over: each step builds on the last

    def after_window(self):
        # the store starts empty, so every edge in it came from the window
        self.triples = self.g.store.read("edges").count()

    def _store_bytes(self) -> int:
        return sum(os.path.getsize(f) for f in parquet_files(self.store))

    def layer_extras(self) -> dict:
        """Traced runs ingest one more batch over the same hosts after the
        window. It resolves names against the stored nodes (D11) and
        merge_upsert takes its partition-restricted merge path, which the
        window's first step, on an empty store, does not reach."""
        before = self._store_bytes()
        result, dt = self._ingest(max(self.batches) + 1, "bench.reingest")
        growth = self._store_bytes() - before
        return {
            **super().layer_extras(),
            "store_files": len(parquet_files(self.store)),
            "reingest_s": dt,
            "reingest_name_resolution_s": stage_value(result, "name_resolution", "sec") or 0.0,
            "reingest_growth_bytes": growth,
        }

    def check(self) -> dict:
        hosts = {host_of(r["url"]) for r in self.ingested}
        ref = oracle_triples(self.ingested, hosts)
        got = graph_triples(self.g.store.read("nodes"), self.g.store.read("edges"), hosts)
        out = self.check_triples(got, ref)
        self.check_searches()
        return out


WORKLOADS = {w.name: w for w in (BulkBuild, IngestSearch)}
