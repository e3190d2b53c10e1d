"""KG-construction benchmark: a checkpointed build of a seeded pages table
into committed graph tables, resume-loads of the committed graph, and (in
the traced run) a closed loop of graph queries against it.

    python3 perfbench/run.py --workload closed_vocab --seed 1 --seconds 1 --trace 0

Workloads (see BENCHMARK.md for why each was chosen):

- ``closed_vocab``: Zipf corpus under the doc-aggregate vocabulary ceiling;
- ``open_vocab``: Zipf head plus a long tail past that ceiling.

Every run, traced or not, checks the committed tables and the answers of
every query template against ``semantics.build_kg``, records which code
path the engine took and asserts it is the workload's.  The last line of
stdout is one JSON object ``{"correct", "attempted", "failed",
"metrics"}``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``.  Progress goes to stderr.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import json
import os
import subprocess
import shutil
import statistics
import sys
import time
import traceback

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)

WORKLOADS = {"closed_vocab": "closed", "open_vocab": "open"}
N_PAGES = 2_500
SETUP_REPS = 3
WARMUP_ROUNDS = 1          # untimed rounds of every query template
MIN_QUERIES = 40           # so that >= 10 samples lie beyond the p75


_T0 = time.monotonic()


def log(msg: str) -> None:
    print(f"[perfbench {time.monotonic() - _T0:6.1f}s] {msg}", file=sys.stderr,
          flush=True)


def host_resources() -> tuple[int, int]:
    """(cores, driver heap in MB) of this host: all CPUs this process may
    use, and a quarter of physical memory capped at 8 GB."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f
                        if line.startswith("MemTotal:"))
    return cores, max(1024, min(8192, total_kb // 1024 // 4))


class Session:
    """One Spark session of the benchmark and the JVM that hosts it."""

    def __init__(self, work: str, heap_mb: int):
        self.work, self.heap_mb = work, heap_mb
        self.spark = None

    def start(self, cores: int):
        from kgraphmemory_spark.session import get_spark
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        self.spark = get_spark(app="perfbench", cores=cores, extra={
            "spark.driver.memory": f"{self.heap_mb}m",
            # no hsperfdata file in /tmp: the run writes only its checkout
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.executorEnv.PYTHONPATH": ROOT,
        })
        # start the Python workers, so that no build times their fork
        sc = self.spark.sparkContext
        sc.parallelize(range(cores), cores).map(lambda x: x).count()
        return self.spark

    def shutdown(self, tree) -> None:
        """Stop the session, end the gateway JVM and wait for every
        process this run started to exit."""
        from pyspark import SparkContext
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=20)
                except Exception:
                    proc.kill()
                    proc.wait(timeout=20)
            SparkContext._gateway = SparkContext._jvm = None
        deadline = time.monotonic() + 20
        while tree.descendants() and time.monotonic() < deadline:
            time.sleep(0.1)
        for pid in tree.descendants():
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass


# engine functions whose calls show the path a build took: the
# doc-aggregate fast paths (alias table under the ceiling) or the
# shuffle paths and the DataFrame CC
PATH_FUNCTIONS = {
    "docagg": ("canonical_mapping_local", "build_entities_docagg",
               "build_relations_docagg", "extract_provenance_docagg"),
    "shuffle": ("canonical_mapping", "build_entities_preagg",
                "build_relations", "build_provenance"),
}


@contextlib.contextmanager
def record_paths():
    """Wrap the ``PATH_FUNCTIONS`` of ``pipeline`` and yield the set of
    their names the build called."""
    from kgraphmemory_spark import pipeline
    called: set[str] = set()
    saved = {name: getattr(pipeline, name)
             for names in PATH_FUNCTIONS.values() for name in names}

    def wrap(name, orig):
        def recorded(*args, **kwargs):
            called.add(name)
            return orig(*args, **kwargs)
        return recorded

    for name, orig in saved.items():
        setattr(pipeline, name, wrap(name, orig))
    try:
        yield called
    finally:
        for name, orig in saved.items():
            setattr(pipeline, name, orig)


def build(spark, pages_dir: str, workdir: str, tracer=None):
    """One checkpointed ``run_pipeline`` into an empty ``workdir``.
    → (tables, seconds, names of the ``PATH_FUNCTIONS`` it called)"""
    import workload as W
    from kgraphmemory_spark import pipeline
    # scale the doc-aggregate ceiling with the corpus (workload.DOCAGG_CEILING)
    if not hasattr(pipeline, "RELATIONS_DOCAGG_MAX_VOCAB"):
        raise RuntimeError("pipeline has no RELATIONS_DOCAGG_MAX_VOCAB")
    pipeline.RELATIONS_DOCAGG_MAX_VOCAB = W.DOCAGG_CEILING
    shutil.rmtree(workdir, ignore_errors=True)
    with tracer or contextlib.nullcontext(), record_paths() as called:
        t0 = time.perf_counter()
        kg = pipeline.run_pipeline(spark, spark.read.parquet(pages_dir),
                                   workdir=workdir)
        elapsed = time.perf_counter() - t0
    if kg.stages_resumed:
        raise RuntimeError(f"build resumed {kg.stages_resumed}")
    return kg, elapsed, called


def resume(spark, pages_dir: str, workdir: str):
    """Load the committed graph read-only, as an agent memory would."""
    from kgraphmemory_spark.api import KGraphView
    from kgraphmemory_spark.pipeline import run_pipeline
    kg = run_pipeline(spark, spark.read.parquet(pages_dir), workdir=workdir)
    if len(kg.stages_resumed) != 12:
        raise RuntimeError(f"resume recomputed stages: {kg.stages_resumed}")
    return KGraphView(kg)


def check_build(kg, workdir: str, oracle, corpus: str,
                called: set) -> tuple[list, float, float]:
    """Problems found in a committed build (empty when correct) and its
    triple precision and recall.  ``called`` are the ``PATH_FUNCTIONS``
    the build called."""
    from kgraphmemory_spark.io.snapshots import SnapshotCatalog
    from kgraphmemory_spark.operators.linking import BROADCAST_MAX_ALIAS_ROWS

    import workload as W
    differ = W.check_tables(kg, oracle)
    problems = [f"table {t} differs from the oracle" for t in differ]
    n_alias = SnapshotCatalog(workdir).manifest("alias_table")["rows"]
    if corpus == "open" and not W.DOCAGG_CEILING < n_alias <= BROADCAST_MAX_ALIAS_ROWS:
        problems.append(f"open corpus has {n_alias} aliases, not in "
                        f"({W.DOCAGG_CEILING}, {BROADCAST_MAX_ALIAS_ROWS}]")
    if corpus == "closed" and n_alias > W.DOCAGG_CEILING:
        problems.append(f"closed corpus has {n_alias} aliases "
                        f"> {W.DOCAGG_CEILING}")
    path = "docagg" if corpus == "closed" else "shuffle"
    if called != set(PATH_FUNCTIONS[path]):
        problems.append(f"{corpus} corpus called {sorted(called)}, not the "
                        f"{path} path {sorted(PATH_FUNCTIONS[path])}")
    # relations whose digest equals the oracle's hold the oracle's
    # triples; only a differing table needs its triples collected
    precision, recall = (W.triple_precision_recall(kg, oracle)
                         if "relations" in differ else (1.0, 1.0))
    log(f"alias_table rows {n_alias}, path {path}; precision {precision} "
        f"recall {recall}")
    return problems, precision, recall


def run_query(view, oracle, template: str, arg: str):
    """One query, timed and checked against the oracle.
    → (compile ms, exec ms, answer matches the oracle)"""
    import workload as W
    t0 = time.perf_counter()
    try:
        df = W.compile_query(view, template, arg)
        t1 = time.perf_counter()
        rows = df.collect()
        t2 = time.perf_counter()
    except Exception:
        traceback.print_exc()
        return 0.0, (time.perf_counter() - t0) * 1e3, False
    ok = W.answer_rows(template, rows) == W.expected_answer(oracle, template, arg)
    if not ok:
        log(f"query {template}({arg}) answer differs from the oracle")
    return (t1 - t0) * 1e3, (t2 - t1) * 1e3, ok


def query_loop(view, oracle, seed: int, seconds: float):
    """Closed loop, one client: each query is sent when the previous one
    returned.  ``WARMUP_ROUNDS`` untimed rounds of every template warm the
    session up; then the loop runs for ``seconds`` and at least
    ``MIN_QUERIES`` queries.
    → ({template: [(compile ms, exec ms)]}, attempted, failures)"""
    import workload as W
    stream = W.query_stream(oracle, seed)
    warmup = WARMUP_ROUNDS * len(W.TEMPLATES)
    failures = sum(not run_query(view, oracle, *next(stream))[2]
                   for _ in range(warmup))
    per_template: dict[str, list] = {t: [] for t in W.TEMPLATES}
    n, t_start = 0, time.perf_counter()
    while time.perf_counter() - t_start < seconds or n < MIN_QUERIES:
        template, arg = next(stream)
        compile_ms, exec_ms, ok = run_query(view, oracle, template, arg)
        per_template[template].append((compile_ms, exec_ms))
        failures += not ok
        n += 1
    return per_template, warmup + n, failures


def setup_loop(spark, pages_dir: str, workdir: str, seconds: float, tree):
    """Resume-loads for ``seconds`` and at least ``SETUP_REPS`` of them.
    → ([(wall s, process-tree CPU s) of each], the last ``KGraphView``)"""
    samples, t_start = [], time.perf_counter()
    while time.perf_counter() - t_start < seconds or len(samples) < SETUP_REPS:
        s0, c0 = time.perf_counter(), tree.cpu_s()
        view = resume(spark, pages_dir, workdir)
        samples.append((time.perf_counter() - s0, tree.cpu_s() - c0))
    return samples, view


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def run(workload: str, seed: int, seconds: float, traced: bool) -> dict:
    import workload as W
    from kgraphmemory_spark.api import KGraphView
    from tracing import STAGE_FIELDS, STAGES, PeakRss, ProcessTree, StageTracer

    corpus = WORKLOADS[workload]
    cores, heap_mb = host_resources()
    work = os.path.join(ROOT, ".perfbench_work", f"{workload}-{os.getpid()}")
    pages_dir, wd = os.path.join(work, "pages"), os.path.join(work, "graph")
    os.makedirs(work, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

    tree = ProcessTree()
    session = Session(work, heap_mb)
    try:
        # neither the corpus nor the oracle is timed by any metric
        t0 = time.perf_counter()
        rows = W.corpus_rows(corpus, N_PAGES, seed)
        W.write_pages(rows, pages_dir)
        oracle = W.Oracle(rows)
        # the oracle is large and lives for the whole run: keep it out of
        # the cyclic collector so full collections do not land in timings
        gc.collect()
        gc.freeze()
        t1, cpu0 = time.perf_counter(), tree.cpu_s()
        spark = session.start(cores)
        launch_s, launch_cpu_s = time.perf_counter() - t1, tree.cpu_s() - cpu0
        log(f"corpus {corpus}: {N_PAGES} pages and oracle in {t1 - t0:.2f} s; "
            f"session local[{cores}], heap {heap_mb} MB, launched in "
            f"{launch_s:.3f} s, {launch_cpu_s:.2f} CPU-s")
        # the sampler thread competes for the GIL, so only the traced run,
        # which reports peak_rss_mb, pays for it
        with PeakRss(tree) if traced else contextlib.nullcontext() as rss:
            tracer = (StageTracer(spark, f"perfbench-{os.getpid()}", tree)
                      if traced else None)
            cpu0 = tree.cpu_s()
            kg, t_build, called = build(spark, pages_dir, wd, tracer)
            build_cpu_s = tree.cpu_s() - cpu0
            if traced:
                tracer.harvest(wd)
            log(f"built in {t_build:.3f} s, {build_cpu_s:.2f} CPU-s")
            problems, precision, recall = check_build(
                kg, wd, oracle, corpus, called)
            for p in problems:
                log(p)

            if traced:
                # the built tables are the committed snapshots, read back
                per_template, attempted, failed = query_loop(
                    KGraphView(kg), oracle, seed, seconds)
                log("queried")
                # the same cold build at half the cores, in a new JVM
                session.shutdown(tree)
                t_half = float(subprocess.run(
                    [sys.executable, os.path.join(BENCH, "cold_build.py"),
                     pages_dir, os.path.join(work, "graph-half"), work,
                     str(heap_mb), str(max(1, cores // 2))],
                    check=True, stdout=subprocess.PIPE, text=True,
                ).stdout.split()[-1])
            else:
                setups, view = setup_loop(spark, pages_dir, wd, seconds, tree)
                # one round of every query template, for correctness only
                stream = W.query_stream(oracle, seed)
                attempted = len(setups) + len(W.TEMPLATES)
                failed = sum(not run_query(view, oracle, *next(stream))[2]
                             for _ in W.TEMPLATES)
    finally:
        session.shutdown(tree)
        shutil.rmtree(work, ignore_errors=True)

    attempted += 1
    failed += bool(problems)
    if traced:
        t_full = t_build - tracer.overhead_s
        spans = {s.stage: s.metrics for s in tracer.spans}
        metrics = {f"stage.{stage}.{fld}": metric(spans[stage][fld], unit)
                   for stage in STAGES for fld, unit in STAGE_FIELDS.items()}
        metrics["build_s"] = metric(t_full, "s")
        metrics["docs_per_s"] = metric(N_PAGES / t_full, "docs/s")
        metrics["triples_per_s"] = metric(oracle.total_weight / t_full,
                                          "triples/s")
        metrics["pipeline.driver_s"] = metric(
            t_full - sum(s.end - s.start for s in tracer.spans), "s")
        metrics["trace.overhead_s"] = metric(tracer.overhead_s, "s")
        metrics["scaling_eff"] = metric(t_half / t_full / 2, "ratio")
        lat = sorted(c + e for samples in per_template.values()
                     for c, e in samples)
        metrics["query_p50_ms"] = metric(statistics.median(lat), "ms")
        metrics["query_tail_ms"] = metric(
            statistics.quantiles(lat, n=4, method="inclusive")[-1], "ms")
        metrics["qps"] = metric(len(lat) / sum(lat) * 1e3, "1/s")
        for t, samples in per_template.items():
            metrics[f"query.{t}.compile_ms"] = metric(
                statistics.median(c for c, _ in samples), "ms")
            metrics[f"query.{t}.exec_ms"] = metric(
                statistics.median(e for _, e in samples), "ms")
        metrics["peak_rss_mb"] = metric(rss.peak_mb, "MB")
        log(f"cold builds: traced {t_build:.2f} s (tracer "
            f"{tracer.overhead_s:.3f} s), half cores {t_half:.2f} s; "
            f"{len(lat)} queries, query_tail_ms is the p75")
    else:
        # the committed relations equal the oracle's when the run is
        # correct, so the oracle's total weight is the triples built
        metrics = {
            # CPU time, like build_cpu_s: the wall time of a launch
            # follows the CPU other tenants steal (BENCHMARK.md)
            "setup_s": metric(launch_cpu_s + statistics.median(
                cpu for _, cpu in setups), "s"),
            "build_cpu_s": metric(build_cpu_s, "s"),
            "docs_per_cpu_s": metric(N_PAGES / build_cpu_s, "docs/cpu-s"),
            "triples_per_cpu_s": metric(oracle.total_weight / build_cpu_s,
                                        "triples/cpu-s"),
            "triple_precision": metric(precision, "ratio"),
            "triple_recall": metric(recall, "ratio"),
        }
        log(f"launch {launch_s:.3f} s; resume-loads "
            f"{[(round(w, 3), round(c, 2)) for w, c in setups]} (s, CPU-s)")
    return {"correct": failed == 0 and precision == recall == 1.0,
            "attempted": attempted, "failed": failed, "metrics": metrics}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "kgraphmemory_spark")):
        log(f"no kgraphmemory_spark package under {ROOT}")
        return 2
    sys.path.insert(0, ROOT)
    try:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    except Exception:
        traceback.print_exc()
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
