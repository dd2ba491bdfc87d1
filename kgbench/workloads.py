"""The benchmark's workloads.

Each workload builds its inputs from the seed (``prepare``), pays the cold
start with unchecked jobs (``warm_up``) and runs timed jobs (``job``) whose
committed output is checked against an oracle that does not run the
program.  A job that fails its check is returned with ``ok=False``; the
caller counts it as failed and does not time it.  ``probes`` runs in the
traced run only, after the traced jobs: it reaches the layers the timed job
does not (the graph layer and the OWL entry point) or cannot split from
outside.
"""
from __future__ import annotations

import json
import os
import pickle
import shutil
import statistics
import time
from contextlib import nullcontext
from dataclasses import dataclass
from datetime import datetime
from importlib import resources

import pyarrow as pa
import pyarrow.parquet as pq

PACKAGE = "climatemind_ontology_processing_spark"
MIN_PRECISION_RECALL = 0.95


@dataclass
class JobResult:
    seconds: float                # wall time from input to committed output
    triples: int                  # distinct triples the job committed
    precision: float
    recall: float
    ok: bool
    window: tuple[float, float]   # epoch seconds the timed part ran
    detail: str = ""


def precision_recall(got: set, want: set) -> tuple[float, float]:
    hit = len(got & want)
    return (hit / len(got) if got else 0.0, hit / len(want) if want else 0.0)


def write_pages(path: str, seed: int, first: int, n: int, files: int,
                prefix: str = "part") -> set:
    """Pages [first, first+n) of ``sources.pages`` as ``files`` parquet files
    (timestamps UTC-adjusted, so Spark reads them as TIMESTAMP). Returns the
    pages' expected (subj, pred, obj) set."""
    from climatemind_ontology_processing_spark.sources.pages import gen_row

    os.makedirs(path, exist_ok=True)
    expected: set = set()
    per = -(-n // files)
    for f in range(files):
        lo, hi = first + f * per, min(first + (f + 1) * per, first + n)
        if lo >= hi:
            break
        rows = [gen_row(seed, i) for i in range(lo, hi)]
        for r in rows:
            expected.update(r[5])
        url, ts, html, text, lang = (list(c) for c in zip(*(r[:5] for r in rows)))
        pq.write_table(pa.table({
            "url": pa.array(url, pa.string()),
            "warc_ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
            "html": pa.array(html, pa.binary()),
            "text": pa.array(text, pa.string()),
            "lang": pa.array(lang, pa.string()),
        }), os.path.join(path, f"{prefix}-{f:04d}.parquet"))
    return expected


class Workload:
    name = ""
    WARMUP_JOBS = 1
    JOB_S = 1.0            # nominal seconds of one timed job (run.jobs_for)

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.problems: list[str] = []
        self.rec = None           # the traced run's SpanRecorder
        self._n = 0

    def fresh_dir(self, tag: str) -> str:
        self._n += 1
        return os.path.join(self.work, "jobs", f"{tag}-{self._n}")

    def span(self, name: str):
        """A span around one of the benchmark's own steps (traced run
        only)."""
        return self.rec.span(name) if self.rec is not None else nullcontext()

    def prepare(self, path: str) -> None:
        raise NotImplementedError

    def warm_up(self) -> None:
        """Unchecked jobs that pay the cold start (JIT, codegen, Python
        workers) before anything is timed."""
        for _ in range(self.WARMUP_JOBS):
            self.job(check=False)

    def max_jobs(self) -> int:
        """Timed jobs the prepared input allows."""
        return 1_000

    def job(self, check: bool = True) -> JobResult | None:
        """One timed job; with ``check`` its output is checked, without it
        (a warm-up) nothing is returned."""
        raise NotImplementedError

    def probes(self, rec) -> dict[str, float]:
        """Traced-run extras; keys are per-layer metric names.  A probe whose
        output fails its check appends to ``self.problems``."""
        return {}


class CrawlExtract(Workload):
    """The extraction half of the production job (``bin/run_pipeline.py
    --skip-graph``): bucketed, resumable extraction
    (``plans.lineage.run_bucketed``) over a parquet pages table into a fresh
    output dir under a fresh run id -- committed ``bucket=`` triple
    partitions plus lineage rows.  The traced run's probes add the graph half
    (``operators.graph_pipeline.build_graph`` over the committed triples and
    the four graph-table writes)."""

    name = "crawl_extract"
    PAGES, FILES, BUCKETS = 4_000, 4, 16
    WARMUP_JOBS = 2        # the job after the cold one still varies most
    JOB_S = 3.0
    MICRO_PAGES = 1_000

    def prepare(self, path: str) -> None:
        self.pages_path = os.path.join(path, "pages")
        self.expected = write_pages(self.pages_path, self.seed, 0,
                                    self.PAGES, self.FILES)
        data = resources.files(f"{PACKAGE}.data")
        concepts = json.loads((data / "concepts.json").read_text())
        self.direct_classes = {c["label"]: set(c["direct_classes"] or ())
                               for c in concepts}

    def job(self, check: bool = True) -> JobResult | None:
        from climatemind_ontology_processing_spark.plans.lineage import (
            run_bucketed)

        out = self.fresh_dir("extract")
        run_id = os.path.basename(out)
        w0, t0 = time.time(), time.perf_counter()
        pages = self.spark.read.parquet(self.pages_path)
        report = run_bucketed(pages, f"{out}/triples", f"{out}/lineage",
                              run_id=run_id, n_buckets=self.BUCKETS)
        dt = time.perf_counter() - t0
        self.last_out = out
        if not check:
            return None

        problems = [] if sorted(report.processed) == list(range(self.BUCKETS)) \
            else [f"processed buckets {report.processed}"]
        got = {tuple(r) for r in self.spark.read.parquet(f"{out}/triples")
               .select("subj", "pred", "obj").distinct().collect()}
        p, r = precision_recall(got, self.expected)
        if p < MIN_PRECISION_RECALL or r < MIN_PRECISION_RECALL:
            problems.append(f"precision {p:.4f} recall {r:.4f}")
        problems += self._check_lineage(out, run_id)
        return JobResult(dt, len(got), p, r, not problems, (w0, w0 + dt),
                         "; ".join(problems))

    def _check_lineage(self, out: str, run_id: str) -> list[str]:
        from climatemind_ontology_processing_spark.plans.lineage import (
            LINEAGE_SCHEMA)

        rows = [row for row in self.spark.read.schema(LINEAGE_SCHEMA)
                .json(f"{out}/lineage").collect() if row.run_id == run_id]
        problems = []
        if sorted(row.bucket for row in rows) != list(range(self.BUCKETS)):
            problems.append(f"lineage rows for buckets "
                            f"{sorted(row.bucket for row in rows)}")
        if sum(row.n_pages for row in rows) != self.PAGES:
            problems.append(f"lineage counts {sum(r.n_pages for r in rows)} pages")
        return problems

    def probes(self, rec) -> dict[str, float]:
        """Stages the single-write job cannot split from outside: the
        extraction stage and the dedup shuffle, each alone into a noop sink;
        single-process timings of the two per-page UDF bodies (wrappers do
        not reach the Python workers); then the graph half of the production
        job over the last traced job's committed triples."""
        from climatemind_ontology_processing_spark.functions.text import (
            html_to_text)
        from climatemind_ontology_processing_spark.functions.triples import (
            extract_from_text, extract_triples_from_html)
        from climatemind_ontology_processing_spark.operators.dedup import (
            dedup_triples)
        from climatemind_ontology_processing_spark.sources.dictionary import (
            alias_map)

        aliases = alias_map()
        pages = self.spark.read.parquet(self.pages_path)
        with rec.span("probe.extract_html_noop"):
            (extract_triples_from_html(pages, aliases)
             .write.format("noop").mode("overwrite").save())
        raw = extract_triples_from_html(pages, aliases).localCheckpoint(eager=True)
        with rec.span("probe.dedup_noop"):
            dedup_triples(raw).write.format("noop").mode("overwrite").save()
        raw.unpersist()

        html = [bytes(b) for b in pq.read_table(self.pages_path, columns=["html"])
                .column("html").to_pylist()[:self.MICRO_PAGES]]
        texts = [html_to_text(b) for b in html]

        def us_per_page(fn, items) -> float:
            reps = []
            for _ in range(3):
                t0 = time.perf_counter()
                for x in items:
                    fn(x)
                reps.append((time.perf_counter() - t0) / len(items) * 1e6)
            return statistics.median(reps)

        metrics = {
            "text.html_to_text.us_per_page": us_per_page(html_to_text, html),
            "triples.extract_from_text.us_per_page": us_per_page(
                lambda t: extract_from_text(t, aliases), texts),
        }
        self._graph_probe()
        return metrics

    def _graph_probe(self) -> None:
        """``build_graph`` over the committed triples, then the nodes /
        edges / subgraph_nodes / subgraph_edges writes of
        ``bin/run_pipeline.py``; the tables are checked."""
        from climatemind_ontology_processing_spark.operators.graph_pipeline import (
            build_graph)
        from climatemind_ontology_processing_spark.sources.dictionary import (
            concepts_df)

        out = self.last_out
        triples = self.spark.read.parquet(f"{out}/triples")
        bundle = build_graph(triples, concepts_df(self.spark))
        with self.span("kg_tables.write"):
            write_tables(bundle, out)
        got = {tuple(r) for r in triples.select("subj", "pred", "obj")
               .distinct().collect()}
        self.problems += [f"graph probe: {p}"
                          for p in self._check_graph(out, got, bundle)]

    def _check_graph(self, out: str, triples: set, bundle) -> list[str]:
        """Edges are the distinct input triples; edges_b is edges minus
        exactly the feedback-loop cut of ``make_acyclic`` (a declarative
        rule: a web graph keeps its other cycles); every subgraph edge's
        endpoints are in that subgraph's node set."""
        from climatemind_ontology_processing_spark.config import (
            CAUSES, CUT_TARGET_CLASSES, FEEDBACK_LOOP_CLASS)

        read = self.spark.read.parquet
        problems = []
        edges = {(r.src, r.type, r.dst) for r in
                 read(f"{out}/edges").select("src", "type", "dst").collect()}
        if edges != triples:
            problems.append(f"edges table has {len(edges)} rows for "
                            f"{len(triples)} distinct triples")
        dc = self.direct_classes
        cut = {(s, t, d) for s, t, d in edges
               if t == CAUSES and FEEDBACK_LOOP_CLASS in dc.get(s, ())
               and dc.get(d, set()) & set(CUT_TARGET_CLASSES)}
        edges_b = {tuple(r) for r in
                   bundle.edges_b.select("src", "type", "dst").collect()}
        if edges_b != edges - cut:
            problems.append(f"edges_b has {len(edges_b)} edges, expected "
                            f"{len(edges - cut)} ({len(cut)} cut)")
        nodes = read(f"{out}/subgraph_nodes")
        dangling = (read(f"{out}/subgraph_edges")
                    .join(nodes.withColumnRenamed("node_id", "src"),
                          ["subgraph_name", "src"], "left_anti")
                    .unionByName(read(f"{out}/subgraph_edges")
                                 .join(nodes.withColumnRenamed("node_id", "dst"),
                                       ["subgraph_name", "dst"], "left_anti"))
                    .count())
        if dangling:
            problems.append(f"{dangling} subgraph edge endpoints outside "
                            "their subgraph")
        return problems


def write_tables(bundle, out: str) -> None:
    """The graph tables ``bin/run_pipeline.py`` writes."""
    bundle.nodes.write.mode("overwrite").parquet(f"{out}/nodes")
    bundle.edges.write.mode("overwrite").parquet(f"{out}/edges")
    (bundle.subgraph_nodes.write.mode("overwrite").partitionBy("subgraph_name")
     .parquet(f"{out}/subgraph_nodes"))
    (bundle.subgraph_edges.write.mode("overwrite").partitionBy("subgraph_name")
     .parquet(f"{out}/subgraph_edges"))


class CrawlStream(Workload):
    """Incremental construction over an arriving crawl:
    ``streaming.kg.kg_build_stream`` (availableNow, one file per micro-batch)
    over a parquet file source.  One job is one arrival: a few new files
    land in the source dir and the stream, resumed from its checkpoint,
    commits them into the same KG; ``kg_snapshot`` then reads the whole KG
    back for the check.  The traced run's probe adds the reference's OWL
    entry point (``plans.process_ontology.process_ontology_file``)."""

    name = "crawl_stream"
    FILE_PAGES = 150
    WARMUP_FILES = 2
    ARRIVAL_FILES = 6
    ARRIVALS = 4           # the most arrivals a run can time
    JOB_S = 20.0
    TRIPLES = 220          # rows of the shipped ontology's output.csv

    def prepare(self, path: str) -> None:
        self.warm_src = os.path.join(path, "warm")
        write_pages(self.warm_src, self.seed, 0,
                    self.WARMUP_FILES * self.FILE_PAGES, self.WARMUP_FILES)
        self.arrivals = []
        first = self.WARMUP_FILES * self.FILE_PAGES
        n = self.ARRIVAL_FILES * self.FILE_PAGES
        for k in range(self.ARRIVALS):
            d = os.path.join(path, "arrivals", f"a{k:02d}")
            self.arrivals.append(
                (d, write_pages(d, self.seed, first + k * n, n,
                                self.ARRIVAL_FILES, prefix=f"a{k:02d}")))
        self.src = os.path.join(path, "src")
        os.makedirs(self.src)
        self.out = self.fresh_dir("stream")
        self.expected: set = set()
        self.committed = 0
        self.batches: list[dict] = []
        self.snapshot_s: list[float] = []

        data = resources.files(f"{PACKAGE}.data")
        self.owl = os.path.join(path, "climate_mind.owl")
        with resources.as_file(data / "climate_mind.owl") as src:
            shutil.copyfile(src, self.owl)
        golden = json.loads((data / "golden_graph.json").read_text())
        self.golden = {(e["src"], e["type"], e["dst"]) for e in golden["edges"]}
        self.subgraphs = {name: ({*g["nodes"]}, {tuple(e) for e in g["edges"]})
                          for name, g in golden["subgraphs"].items()}

    def _stream(self, src: str, out: str):
        """Run the stream over ``src`` to completion; its non-empty
        batches' progress."""
        from climatemind_ontology_processing_spark.sources.pages import (
            PAGES_SCHEMA)
        from climatemind_ontology_processing_spark.streaming.kg import (
            kg_build_stream)

        pages = (self.spark.readStream.schema(PAGES_SCHEMA)
                 .option("maxFilesPerTrigger", 1).parquet(src))
        query = kg_build_stream(pages, f"{out}/kg", f"{out}/checkpoint")
        query.awaitTermination()
        return [pr for pr in query.recentProgress if pr["numInputRows"] > 0]

    def warm_up(self) -> None:
        self._stream(self.warm_src, self.fresh_dir("stream-warm-up"))

    def max_jobs(self) -> int:
        return self.ARRIVALS

    def job(self, check: bool = True) -> JobResult | None:
        from climatemind_ontology_processing_spark.streaming.kg import (
            kg_snapshot)

        arrival, expected = self.arrivals.pop(0)
        for name in sorted(os.listdir(arrival)):
            os.rename(os.path.join(arrival, name), os.path.join(self.src, name))
        self.expected |= expected
        w0, t0 = time.time(), time.perf_counter()
        progress = self._stream(self.src, self.out)
        dt = time.perf_counter() - t0
        self.batches += progress
        if self.rec is not None:
            for pr in progress:
                start = datetime.fromisoformat(
                    pr["timestamp"].replace("Z", "+00:00")).timestamp()
                self.rec.add_span(
                    "kg.batch", start,
                    start + pr["durationMs"]["triggerExecution"] / 1e3)

        t1 = time.perf_counter()
        snap = kg_snapshot(self.spark, f"{self.out}/kg")
        n_snap = snap["triples"].count()
        self.snapshot_s.append(time.perf_counter() - t1)
        got = {tuple(r) for r in
               snap["triples"].select("subj", "pred", "obj").collect()}
        p, r = precision_recall(got, self.expected)
        problems = []
        if len(progress) != self.ARRIVAL_FILES:
            problems.append(f"{len(progress)} batches for "
                            f"{self.ARRIVAL_FILES} files")
        if n_snap != len(got):
            problems.append(f"snapshot has {n_snap} rows for {len(got)} "
                            "distinct triples")
        if p < MIN_PRECISION_RECALL or r < MIN_PRECISION_RECALL:
            problems.append(f"precision {p:.4f} recall {r:.4f}")
        new, self.committed = len(got) - self.committed, len(got)
        return JobResult(dt, new, p, r, not problems, (w0, w0 + dt),
                         "; ".join(problems))

    def probes(self, rec) -> dict[str, float]:
        """Batch and snapshot latencies of the traced arrivals, then
        ``process_ontology_file`` on the shipped ``climate_mind.owl``,
        parity files included, with its outputs checked against the golden
        graph."""
        import pandas as pd

        from climatemind_ontology_processing_spark.plans.process_ontology import (
            process_ontology_file)

        # the first batch after a resume also restarts the query; the median
        # is over every batch
        metrics = {
            "kg.batch.trigger_s_p50": statistics.median(
                pr["durationMs"]["triggerExecution"] / 1e3 for pr in self.batches),
            "kg.batch.add_batch_s_p50": statistics.median(
                pr["durationMs"]["addBatch"] / 1e3 for pr in self.batches),
            "kg.snapshot_s": statistics.median(self.snapshot_s),
        }

        out = self.fresh_dir("ontology")
        bundle = process_ontology_file(self.owl, out, spark=self.spark)
        problems = []
        csv = pd.read_csv(os.path.join(out, "output.csv"))
        if len(csv) != self.TRIPLES:
            problems.append(f"output.csv has {len(csv)} rows")
        got = set(zip(csv["subject"], csv["predicate"], csv["object"]))
        if got != self.golden:
            problems.append("output.csv triples differ from the golden graph")
        # the pickle was written by the program into this run's own dir
        with open(os.path.join(out, "graphs_for_visualization.pickle"), "rb") as f:
            graphs = pickle.load(f)
        for name, (nodes, edges) in self.subgraphs.items():
            g = graphs.get(name)
            if g is None or set(g.nodes) != nodes or set(g.edges) != edges:
                problems.append(f"subgraph {name!r} differs from the golden graph")
        cycle = find_cycle(bundle.edges_b.select("src", "dst").collect())
        if cycle:
            problems.append(f"edges_b has a cycle through {cycle!r}")
        self.problems += [f"ontology probe: {p}" for p in problems]
        return metrics


def find_cycle(edges) -> str | None:
    """A node on a directed cycle of ``edges`` (Kahn's algorithm), or None."""
    succ: dict = {}
    indeg: dict = {}
    for s, d in edges:
        succ.setdefault(s, []).append(d)
        indeg[d] = indeg.get(d, 0) + 1
        indeg.setdefault(s, 0)
    ready = [n for n, k in indeg.items() if k == 0]
    while ready:
        n = ready.pop()
        for m in succ.get(n, ()):
            indeg[m] -= 1
            if indeg[m] == 0:
                ready.append(m)
    left = [n for n, k in indeg.items() if k > 0]
    return left[0] if left else None


WORKLOADS = {w.name: w for w in (CrawlExtract, CrawlStream)}
