"""KG-construction benchmark: one workload per run, one JSON line out.

    python3 kgbench/run.py --workload crawl_extract --seed 1 --seconds 12 --trace 0

Run from the repository root.  The run pins its environment (all cores of
the affinity mask, a 4g driver, every temporary file under a fresh
``.kgbench_work/`` dir in the root), starts one ``local[N]`` session, builds
the workload's inputs from the seed, pays the cold start with unchecked
warm-up jobs, then times as many jobs as fill ``--seconds`` on a typical
host (``jobs_for``).  Every job's output is checked; a job failing its
check counts as failed and is not timed.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` runs the same
jobs with the program's layer functions wrapped in spans
(kgbench/tracing.py), then the workload's probes, and prints the per-layer
metrics.  The last line of stdout is the result object;
progress goes to stderr.  kgbench/README.md describes workloads and metrics.
"""
from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

from tracing import SPANS, SpanRecorder
from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "climatemind_ontology_processing_spark"
DRIVER_MEMORY = "4g"
SETUP_ROUNDS = 3

END_TO_END = {
    "setup_s": "s", "job_s": "s", "triples_per_s": "1/s",
    "triple_precision": "ratio", "triple_recall": "ratio",
}
COUNTER_UNITS = {"self_s": "s", "spark_s": "s", "jobs": "count", "shuffle_mb": "MB"}
PER_LAYER = {f"{name}.{c}": COUNTER_UNITS[c] for name, cs in SPANS for c in cs}
PER_LAYER.update({
    "text.html_to_text.us_per_page": "us",
    "triples.extract_from_text.us_per_page": "us",
    "kg.batch.trigger_s_p50": "s",
    "kg.batch.add_batch_s_p50": "s",
    "kg.snapshot_s": "s",
    "spark.failed_tasks": "count",
    "spark.spill_mb": "MB",
    "driver.peak_rss_mb": "MB",
    "trace.coverage": "ratio",
    "trace.overhead_s": "s",
})


def log(msg: str) -> None:
    print(f"[kgbench] {msg}", file=sys.stderr, flush=True)


def pin_environment(work: str) -> int:
    """Environment both sides of a comparison share; returns the core count."""
    cpus = len(os.sched_getaffinity(0))
    for d in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    # program knobs keep their defaults whatever the caller's shell holds
    for knob in ("CMKG_SMALL_GRAPH_EDGES", "SPARK_GRAFT_OPEN_COST",
                 "SPARK_GRAFT_PERIODIC_GC"):
        os.environ.pop(knob, None)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
        # the JVM spark-submit runs to build the driver command line
        "SPARK_LAUNCHER_OPTS":
            f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        # pandas-UDF workers import the package from the checkout
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    tempfile.tempdir = None
    return cpus


def start_spark(work: str, cpus: int):
    from climatemind_ontology_processing_spark.session import get_spark

    spark = get_spark(
        app_name="kgbench", master=f"local[{cpus}]", shuffle_partitions=2 * cpus,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
            "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
            # the traced run reads every job back from the status store
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _children(pid: int) -> list[int]:
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        if ppid == pid:
            out.append(int(entry))
    return out


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        kids = _children(todo.pop())
        out.extend(kids)
        todo.extend(kids)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark) -> None:
    """Stop the session, the JVM and the Python workers it forked, and wait
    for every one of them to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    tree = _descendants(proc.pid) if proc is not None else []
    try:
        spark.stop()
    finally:
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()          # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
        deadline = time.time() + 30
        while any(_alive(p) for p in tree):
            if time.time() > deadline:
                for p in tree:
                    if _alive(p):
                        os.kill(p, signal.SIGKILL)
                deadline = float("inf")
            time.sleep(0.05)


def peak_rss_mb() -> float:
    """High-water RSS (VmHWM) of this driver process plus its JVM."""
    from pyspark import SparkContext

    total = 0
    for pid in ("self", SparkContext._gateway.proc.pid):
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024


def jobs_for(wl, seconds: float) -> int:
    """How many timed jobs a run of ``seconds`` makes: ``seconds`` over the
    workload's nominal job time, at least one, and no more than its inputs
    allow.  The count depends on ``--seconds`` only, not on how fast the
    host is today: jobs still speed up from one to the next as the JVM
    warms, so a run that stopped on a time budget would average a
    different stretch of that curve on a slow host than on a fast one."""
    return min(max(1, round(seconds / wl.JOB_S)), wl.max_jobs())


class Tally:
    """Attempted/failed counts and the timings of passing jobs."""

    def __init__(self):
        self.attempted = self.failed = 0
        self.results = []

    def run(self, wl, seconds: float):
        """Run the jobs that fill ``seconds`` (``jobs_for``).  Returns the
        passing results."""
        window = []
        for _ in range(jobs_for(wl, seconds)):
            res = self.one(wl)
            if res is not None:
                window.append(res)
        return window

    def one(self, wl):
        try:
            res = wl.job()
        except Exception:
            traceback.print_exc()
            res = None
        self.attempted += 1
        if res is None or not res.ok:
            self.failed += 1
            log(f"job failed: {res.detail if res else 'exception'}")
            return None
        log(f"job ok: {res.seconds:.3f} s, {res.triples} triples, "
            f"P={res.precision:.4f} R={res.recall:.4f}")
        self.results.append(res)
        return res


def end_to_end(setup_s: float, results) -> dict[str, float]:
    """Job time and throughput are whole-window aggregates, not medians:
    consecutive jobs in one JVM still speed up as it warms, and the median
    of a few jobs on that slope moves more between runs than their mean
    does."""
    if not results:     # nothing passed its check: no timing to report
        return dict.fromkeys(END_TO_END, 0.0)
    seconds = sum(r.seconds for r in results)
    return {
        "setup_s": setup_s,
        "job_s": seconds / len(results),
        "triples_per_s": sum(r.triples for r in results) / seconds,
        "triple_precision": min(r.precision for r in results),
        "triple_recall": min(r.recall for r in results),
    }


def per_layer(wl, rec, tally: Tally, seconds: float) -> dict[str, float]:
    """The run's jobs, traced, then the workload's probes.  Each span's
    counters are summed per job and reported as the median over jobs; spans
    only a probe opens report the probe's value.

    ``trace.overhead_s`` is the time a traced job spends opening and closing
    spans, measured directly: the difference between a traced and an
    untraced job is swamped by the JVM still warming from one job to the
    next (0.1-0.5 s per job on ``crawl_extract``)."""
    per_job, coverage, overhead = [], [], []
    failed_tasks, spill = rec.collect_jobs()
    with rec.installed():
        wl.rec = rec
        for _ in range(jobs_for(wl, seconds)):
            first, before = len(rec.spans), rec.overhead_s
            res = tally.one(wl)
            if res is None:
                break
            f, s = rec.collect_jobs()
            failed_tasks, spill = failed_tasks + f, spill + s
            per_job.append(rec.reduce(first))
            coverage.append(rec.coverage(first, *res.window))
            overhead.append(rec.overhead_s - before)
        first = len(rec.spans)
        extra = wl.probes(rec)
        if extra:
            tally.attempted += 1
        if wl.problems:
            tally.failed += 1
            log(f"probe failed: {'; '.join(wl.problems)}")
        f, s = rec.collect_jobs()
        failed_tasks, spill = failed_tasks + f, spill + s
        probe_counters = rec.reduce(first)
        wl.rec = None

    metrics = dict.fromkeys(PER_LAYER, 0.0)
    for name, counters in SPANS:
        in_jobs = any(name in j for j in per_job)
        for c in counters:
            metrics[f"{name}.{c}"] = (
                statistics.median(j.get(name, {}).get(c, 0.0) for j in per_job)
                if in_jobs else probe_counters.get(name, {}).get(c, 0.0))
    unknown = set(extra) - set(PER_LAYER)
    if unknown:
        raise KeyError(f"probe metrics missing from PER_LAYER: {sorted(unknown)}")
    metrics.update(extra)
    metrics.update({
        "spark.failed_tasks": failed_tasks,
        "spark.spill_mb": spill,
        "driver.peak_rss_mb": peak_rss_mb(),
        "trace.coverage": statistics.median(coverage) if coverage else 0.0,
        "trace.overhead_s": statistics.median(overhead) if overhead else 0.0,
    })
    return metrics


def run(args, work: str) -> dict:
    cpus = pin_environment(work)
    t0 = time.perf_counter()
    spark = start_spark(work, cpus)
    session_s = time.perf_counter() - t0
    try:
        wl = WORKLOADS[args.workload](spark, work, args.seed)
        prep = []
        for r in range(SETUP_ROUNDS):
            path = os.path.join(work, f"input-{r}")
            t0 = time.perf_counter()
            wl.prepare(path)
            prep.append(time.perf_counter() - t0)
            if r < SETUP_ROUNDS - 1:
                shutil.rmtree(path)
        t0 = time.perf_counter()
        wl.warm_up()
        warmup_s = time.perf_counter() - t0
        setup_s = session_s + statistics.median(prep) + warmup_s
        log(f"setup {setup_s:.2f} s (session {session_s:.2f}, inputs "
            f"{[round(p, 2) for p in prep]}, warm-up {warmup_s:.2f})")

        tally = Tally()
        if args.trace:
            rec = SpanRecorder(spark)
            metrics, units = per_layer(wl, rec, tally, args.seconds), PER_LAYER
            spans = os.path.join(
                ROOT, ".kgbench_work", f"spans-{args.workload}-{args.seed}.jsonl")
            rec.dump(spans)
            log(f"spans written to {os.path.relpath(spans, ROOT)}")
        else:
            tally.run(wl, args.seconds)
            metrics, units = end_to_end(setup_s, tally.results), END_TO_END
        return {
            "correct": tally.failed == 0,
            "attempted": tally.attempted,
            "failed": tally.failed,
            "metrics": {k: {"value": float(v), "unit": units[k]}
                        for k, v in metrics.items()},
        }
    finally:
        stop_spark(spark)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        log(f"{PACKAGE} not found next to kgbench/; run from a full checkout")
        return 2
    sys.path.insert(0, ROOT)
    # a terminated run still stops its JVM and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    os.makedirs(os.path.join(ROOT, ".kgbench_work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=os.path.join(ROOT, ".kgbench_work"))
    try:
        result = run(args, work)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
