"""lucene_spark benchmark: build an index, then run a closed-loop query mix.

Usage (from the repository root):

    python3 perfbench/run.py --workload query_exact --seed 1 --seconds 10 --trace 0

Workloads (both a closed loop with one client, on ``local[nproc]``):

- ``query_exact``: ``pruning="auto"`` on an index far below the engine's
  routing thresholds, so every shape takes the exact plan.
- ``query_pruned``: ``pruning="force"``, so every shape takes the top-k
  strategy that ``auto`` picks on big indexes.

Each run starts a Spark session, makes the turns from the benchmark's copy
of the documents table, builds and loads the index and runs one cold pass
over the query shapes: that is the set-up. It then runs rounds of the
shapes, each round in a seeded order, until ``--seconds`` have passed and
at least one round is done. A query is timed from ``parse_query`` to the
collected rows. After the loop every distinct query's answer is checked
once, and every execution of a wrong query counts as failed; so does every
query that raised. A metric left without a sample by failed queries is
not reported, and the run is then not correct.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics; the traced run alternates traced rounds with rounds that run
with the tracer removed, and reports the difference as tracing overhead.
The last line of standard output is one JSON object: ``{"correct", "attempted", "failed", "metrics"}``; the
lines before it give each metric's sample count and the run's provenance.
Work files, and the traced run's spans, go under ``.perfbench_work/`` in
the repository root.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
PRUNING = {"query_exact": "auto", "query_pruned": "force"}
TOP_K = 10
INDEX_TABLES = {
    "docs": ("docs",),
    "segments": ("segments",),
    "postings": ("postings",),
    "term_dict": ("term_dict", "term_dict_fc"),
}
# per-query values of the traced rounds; each is reported as its median
QUERY_LAYER = {
    "parser.parse_ms": "ms", "query.rewrite_ms": "ms", "query.rewrite_jobs": "count",
    "executor.plan_ms": "ms", "executor.plan_jvm_cmds": "count",
    "executor.plan_jobs": "count",
    "spark.exec_ms": "ms", "spark.jobs": "count", "spark.stages": "count",
    "spark.tasks": "count", "spark.scan_bytes": "bytes", "spark.scan_rows": "count",
    "spark.shuffle_bytes": "bytes", "spark.executor_run_ms": "ms",
    "spark.executor_cpu_ms": "ms", "spark.result_rows": "count",
}
PER_SHAPE = ("executor.plan_ms", "executor.plan_jvm_cmds", "spark.exec_ms", "spark.jobs")
SETUP_UNITS = {
    "session.start_s": "s", "data.gen_s": "s",
    "builder.docs_s": "s", "builder.segments_s": "s", "builder.merge_s": "s",
    "builder.term_dict_s": "s", "builder.stats_s": "s",
    "builder.jobs": "count", "builder.tasks": "count",
    "builder.input_bytes": "bytes", "builder.shuffle_write_bytes": "bytes",
    **{f"builder.bytes.{t}": "bytes" for t in INDEX_TABLES},
    "builder.load_index_ms": "ms", "builder.cold_first_query_ms": "ms",
    "process.peak_rss_mb": "MB",
}


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(PRUNING))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--docs", type=int, default=None,
                   help="use only the first DOCS documents (the self-test uses a few hundred)")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import lucene_spark.search
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    if not lucene_spark.__file__.startswith(ROOT + os.sep):
        print(f"perfbench: the engine was imported from outside {ROOT}", file=sys.stderr)
        return 2
    bench = Bench(args)
    try:
        result = bench.run()
    finally:
        bench.stop()
    for line in bench.report:
        print(line)
    print(json.dumps(result), flush=True)
    return 0


class Bench:
    def __init__(self, args: argparse.Namespace):
        self.args = args
        self.mode = PRUNING[args.workload]
        self.nproc = os.cpu_count() or 1
        self.spark = None
        self.tracer = None
        self.report: list[str] = []
        self.layer: dict[str, float] = {}
        self.index_dir = os.path.join(WORK, f"index_{os.getpid()}")

    def span(self, name: str):
        """A set-up span in the traced run, else nothing."""
        return self.tracer.span(name, "setup") if self.tracer else contextlib.nullcontext()

    # ---- set-up ------------------------------------------------------------
    def start_session(self) -> None:
        from lucene_spark.session import get_spark

        os.makedirs(WORK, exist_ok=True)
        # Python workers import the engine from the repository root, and
        # Spark's scratch files stay under the work directory
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        )
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
        self.spark = get_spark(
            app_name="lucene_spark_perfbench",
            master=f"local[{self.nproc}]",
            shuffle_partitions=max(self.nproc, 8),
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={WORK}",
                "spark.sql.warehouse.dir": os.path.join(WORK, "spark-warehouse"),
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")

    def setup(self) -> dict:
        """Session, input, build, load and the cold pass; returns the
        quantities the end-to-end metrics need."""
        from pyspark.sql import functions as F

        from lucene_spark.analysis import Analyzer
        from lucene_spark.index import IndexConfig, build_index, load_index
        from lucene_spark.search import SparkSearcher

        import workload as wl

        a, layer = self.args, self.layer
        t_setup = time.perf_counter()
        self.start_session()
        layer["session.start_s"] = time.perf_counter() - t_setup
        if a.trace:
            from tracing import Tracer

            self.tracer = Tracer(self.spark.sparkContext)
            self.tracer.install()

        t0 = time.perf_counter()
        with self.span("data.gen"):
            turns = wl.make_turns(self.spark, a.docs).persist()
            n_turns, text_bytes = turns.agg(
                F.count("*"), F.sum(F.octet_length("text"))
            ).collect()[0]
        layer["data.gen_s"] = time.perf_counter() - t0

        cfg = IndexConfig(
            field_policy={"text": "text", "conv_id": "keyword", "role": "keyword",
                          "tool": "keyword"},
            analyzer=Analyzer("[a-zA-Z0-9]+", lowercase=True, name="bench"),
            seg_size=4096,
        )
        if self.tracer:
            self.tracer.start_group("build")
        t0 = time.perf_counter()
        with self.span("builder.build_index"):
            ix = build_index(self.spark, turns, self.index_dir, cfg,
                             order_cols=["conv_id", "turn_idx"])
        build_s = time.perf_counter() - t0
        if self.tracer:
            jobs = self.tracer.job_ids("build")
            totals = self.tracer.stage_totals(jobs)
            layer["builder.jobs"] = len(jobs)
            layer["builder.tasks"] = totals["tasks"]
            layer["builder.input_bytes"] = totals["scan_bytes"]
            layer["builder.shuffle_write_bytes"] = totals["shuffle_bytes"]
        phases = ix.stats["build_timings_sec"]
        for ph in ("docs", "segments", "merge", "term_dict"):
            layer[f"builder.{ph}_s"] = phases[ph]
        # stats.json is written before its own phase ends: the rest of the
        # call is the stats pass plus the closing load_index
        layer["builder.stats_s"] = build_s - sum(phases.values())

        # the oracle's copy of the turns is not set-up work
        t0 = time.perf_counter()
        self.oracle_turns = turns.select("conv_id", "turn_idx", "text").toPandas()
        t_oracle = time.perf_counter() - t0
        turns.unpersist()

        t0 = time.perf_counter()
        with self.span("builder.load_index"):
            self.ix = load_index(self.spark, self.index_dir)
        layer["builder.load_index_ms"] = (time.perf_counter() - t0) * 1e3
        self.ix.set_default_search_field("text")
        self.searcher = SparkSearcher(self.ix)
        for name, subdirs in INDEX_TABLES.items():
            layer[f"builder.bytes.{name}"] = sum(
                _du(os.path.join(self.index_dir, s)) for s in subdirs
            )

        # the loop repeats these queries: the cold pass fills the per-index
        # caches they use (document frequencies of their terms) before timing
        self.queries = wl.make_queries(a.seed)
        with self.span("warmup"):
            for i, shape in enumerate(wl.SHAPES):
                lat, _got, err = self.query(self.queries[shape])
                if i == 0 and err is None:
                    layer["builder.cold_first_query_ms"] = lat
        if self.tracer:
            self.tracer.close()
        return {
            "setup_s": time.perf_counter() - t_setup - t_oracle,
            "build_turns_per_s": n_turns / build_s,
            "index_bytes_per_text_byte": _du(self.index_dir) / text_bytes,
            "n_turns": n_turns,
        }

    # ---- the run -------------------------------------------------------------
    def run(self) -> dict:
        import numpy as np

        import workload as wl

        a = self.args
        self.load_start = os.getloadavg()
        self.cpu_start = _cpu_jiffies()
        e2e = self.setup()

        rng = np.random.default_rng([a.seed, 2])
        # the answers of each distinct (shape, query)
        rows: dict[tuple[str, str], list] = {}
        # per shape, the latencies of (untraced, traced) executions
        lat = {s: ([], []) for s in wl.SHAPES}
        traces = []
        errors = attempted = rounds = 0
        min_rounds = 2 if a.trace else 1

        def time_up() -> bool:
            return rounds >= min_rounds and time.perf_counter() - t_loop >= a.seconds

        # rounds of the shapes, each in a seeded order; an untraced run
        # stops at the first query past the deadline, a traced run at the
        # end of a round, so that it pairs whole traced and untraced rounds
        t_loop = time.perf_counter()
        while not time_up():
            traced = bool(a.trace) and rounds % 2 == 0
            if traced:
                self.tracer.install()
            for i in rng.permutation(len(wl.SHAPES)):
                shape = wl.SHAPES[i]
                qs = self.queries[shape]
                span = {"shape": shape, "query": qs} if traced else None
                ms, got, err = self.query(qs, span)
                attempted += 1
                if err is not None:  # counted, not timed; the run goes on
                    errors += 1
                    self.report.append(f"# failed {shape} {qs!r}: {err}")
                else:
                    rows.setdefault((shape, qs), []).append(got)
                    lat[shape][traced].append(ms)
                    if traced:
                        traces.append(span)
                if not a.trace and time_up():
                    break
            if traced:
                self.tracer.close()
            rounds += 1
        loop_s = time.perf_counter() - t_loop
        # read before the answer check, whose DuckDB copy of the turns would count
        self.layer["process.peak_rss_mb"] = (
            _vm_hwm_kb(os.getpid()) + _vm_hwm_kb(self._jvm_pid())
        ) / 1024.0

        wrong, checked = self.check(rows)
        failed = wrong + errors
        self.load_end = os.getloadavg()
        self.cpu_end = _cpu_jiffies()

        self.report.append("# provenance " + json.dumps(self.provenance(e2e["n_turns"])))
        self.report.append(f"# loop {loop_s:.3f} s, {rounds} rounds, {attempted} queries")
        self.report.append(
            f"# answers checked: {checked} distinct queries, {wrong} wrong executions, "
            f"{errors} exceptions; failed_op_ratio {failed / attempted:.6f} "
            f"({failed}/{attempted})"
        )
        for shape, (untraced, traced) in lat.items():
            self.report.append(f"# latency_ms {shape} {self.queries[shape]!r} "
                               f"{[round(x) for x in untraced + traced]}")
        self.metrics: dict[str, dict] = {}
        self.missing: list[str] = []
        if a.trace:
            self.per_layer(traces, (rounds + 1) // 2, lat)
            self.tracer.write(
                os.path.join(WORK, f"trace_{a.workload}_{a.seed}.json"),
                {"workload": a.workload, "seed": a.seed, "queries": traces},
            )
        else:
            self.report.append("# set-up layers " + json.dumps(self.layer))
            self.put("setup_s", e2e["setup_s"], "s")
            self.put("build_turns_per_s", e2e["build_turns_per_s"], "1/s")
            self.put("index_bytes_per_text_byte", e2e["index_bytes_per_text_byte"], "ratio")
            untraced = [u for u, _ in lat.values() if u]
            n_timed = sum(map(len, untraced))
            self.put("query_gmean_ms", _gmean_of_medians(untraced), "ms", n_timed)
            # the rate of the uniform mix the loop draws from: a loop ends
            # inside a round, and a count of whichever shapes made it into
            # that round would move the figure by up to one query's share
            mean_ms = n_timed and statistics.mean(map(statistics.mean, untraced))
            self.put("queries_per_s", n_timed and 1e3 / mean_ms, "1/s", n_timed)
        if self.missing:
            self.report.append("# not measured, every sample failed: " + " ".join(self.missing))
        return {"correct": wrong == 0 and not self.missing, "attempted": attempted,
                "failed": failed, "metrics": self.metrics}

    def put(self, name: str, value, unit: str, n: int = 1) -> None:
        """Report one metric measured over ``n`` samples; with none it is
        left out and the run is not correct."""
        if not n:
            self.missing.append(name)
            return
        self.metrics[name] = {"value": float(value), "unit": unit}
        self.report.append(f"# {name} = {value:.6g} {unit} (n={n})")

    def check(self, rows: dict[tuple[str, str], list]) -> tuple[int, int]:
        """(wrong executions, distinct queries checked): each distinct query
        is checked once, outside the timed loop."""
        import workload as wl

        oracle = wl.DuckDBOracle(self.oracle_turns)
        wrong = checked = 0
        for (shape, q), got_all in rows.items():
            if shape in wl.ORACLE_SHAPES:
                want = oracle.topk(shape, q, TOP_K)
            else:
                _lat, want, err = self.query(q, pruning="off")
                if err is not None:
                    self.report.append(f"# reference run of {q!r} failed: {err}")
            bad = sum(want is None or not wl.same_answer(got, want) for got in got_all)
            if bad:
                self.report.append(f"# wrong answer {shape} {q!r}: got {got_all[0]} want {want}")
            wrong += bad
            checked += 1
        return wrong, checked

    # ---- one query ------------------------------------------------------------
    def query(self, qs: str, span: dict | None = None, pruning: str | None = None):
        """(latency ms, [(doc_id, score)], error) of one query string."""
        from lucene_spark.search import parse_query

        pruning = pruning or self.mode
        try:
            if span is None:
                t0 = time.perf_counter()
                q = parse_query(qs, "text").rewrite(self.ix).optimize(self.ix)
                got = self.searcher.execute(q, k=TOP_K, pruning=pruning).collect()
                lat = (time.perf_counter() - t0) * 1e3
            else:
                lat, got = self._traced_query(qs, span, pruning)
        except Exception as e:  # any exception is a failed query; the run goes on
            traceback.print_exc(file=sys.stderr)
            return 0.0, None, f"{type(e).__name__}: {str(e)[:300]}"
        return lat, [(int(r["doc_id"]), float(r["score"])) for r in got], None

    def _traced_query(self, qs: str, span: dict, pruning: str):
        from lucene_spark.search import parse_query

        tr = self.tracer
        qid = f"q{len(tr.spans)}"
        tr.start_group(qid)
        tr.routes_hit.clear()
        # the root span holds the whole cost of tracing the query, the
        # status-store reads included
        with tr.span("query", qid) as root:
            with tr.span("parser.parse", qid, "query") as sp:
                q = parse_query(qs, "text")
            with tr.span("query.rewrite", qid, "query") as sr:
                q = q.rewrite(self.ix).optimize(self.ix)
            jobs_rewrite = set(tr.job_ids(qid))
            with tr.span("executor.plan", qid, "query") as se:
                df = self.searcher.execute(q, k=TOP_K, pruning=pruning)
            jobs_plan = set(tr.job_ids(qid)) - jobs_rewrite
            with tr.span("spark.collect", qid, "query") as sc:
                got = df.collect()
            jobs_exec = sorted(set(tr.job_ids(qid)) - jobs_rewrite - jobs_plan)
            totals = tr.stage_totals(jobs_exec)
        span.update({
            "id": qid,
            "parser.parse_ms": sp.ms,
            "query.rewrite_ms": sr.ms,
            "query.rewrite_jobs": len(jobs_rewrite),
            "executor.plan_ms": se.ms,
            "executor.plan_jvm_cmds": se.jvm_cmds,
            "executor.plan_jobs": len(jobs_plan),
            "route": sorted(tr.routes_hit) or ["exact"],
            "spark.exec_ms": sc.ms,
            "spark.jobs": len(jobs_exec),
            "spark.stages": totals["stages"],
            "spark.tasks": totals["tasks"],
            "spark.scan_bytes": totals["scan_bytes"],
            "spark.scan_rows": totals["scan_rows"],
            "spark.shuffle_bytes": totals["shuffle_bytes"],
            "spark.executor_run_ms": totals["executor_run_ms"],
            "spark.executor_cpu_ms": totals["executor_cpu_ns"] / 1e6,
            "spark.result_rows": len(got),
        })
        return root.ms, got

    # ---- per-layer metrics ------------------------------------------------------
    def per_layer(self, traces, traced_rounds, lat) -> None:
        import workload as wl
        from tracing import ROUTES

        def median(values):
            return statistics.median(values) if values else None

        for name, v in self.layer.items():
            self.put(name, v, SETUP_UNITS[name])
        for name, unit in QUERY_LAYER.items():
            self.put(name, median([t[name] for t in traces]), unit, len(traces))
        for route in ("exact",) + ROUTES:
            n = sum(route in t["route"] for t in traces)
            self.put(f"executor.route.{route.lstrip('_')}", n / traced_rounds,
                     "count/round", len(traces))
        for shape in wl.SHAPES:
            ts = [t for t in traces if t["shape"] == shape]
            for name in PER_SHAPE:
                self.put(f"{name}.{shape}", median([t[name] for t in ts]),
                         QUERY_LAYER[name], len(ts))
        traced = [t for _, t in lat.values()]
        untraced = [u for u, _ in lat.values()]
        self.put("trace.query_gmean_ms", _gmean_of_medians(traced), "ms",
                 sum(map(len, traced)))
        self.put("trace.untraced_gmean_ms", _gmean_of_medians(untraced), "ms",
                 sum(map(len, untraced)))
        # paired by shape, so the mix of shapes in each half cancels out
        ratios = [median(t) / median(u) for u, t in lat.values() if u and t]
        self.put("trace.overhead_pct", ratios and 100.0 * (median(ratios) - 1.0), "%",
                 len(ratios))

    # ---- provenance and shutdown ---------------------------------------------------
    def provenance(self, n_turns: int) -> dict:
        import pyspark

        sc = self.spark.sparkContext
        return {
            "workload": self.args.workload,
            "seed": self.args.seed,
            "docs": self.args.docs or "all",
            "replicate": 1,
            "n_turns": int(n_turns),
            "pruning": self.mode,
            "nproc": self.nproc,
            "mem_total_kb": _meminfo_kb("MemTotal"),
            "loadavg_start": self.load_start,
            "loadavg_end": self.load_end,
            # the share of this machine's CPU time its host gave to others
            # during the run: the runs' figures are comparable only at a
            # similar share
            "cpu_steal_share": round(
                (self.cpu_end[7] - self.cpu_start[7])
                / max(1, sum(self.cpu_end) - sum(self.cpu_start)), 4),
            "git_sha": _git_sha(),
            "python": platform.python_version(),
            "pyspark": pyspark.__version__,
            "java": sc._jvm.System.getProperty("java.version"),
            "master": sc.master,
            "shuffle_partitions": self.spark.conf.get("spark.sql.shuffle.partitions"),
            "not_comparable": "BENCH_r01-r05 (local[32] on 32 CPUs, best of 3)",
        }

    def _jvm_pid(self) -> int:
        return int(self.spark.sparkContext._jvm.ProcessHandle.current().pid())

    def stop(self) -> None:
        """Stop Spark, then the gateway JVM, and wait for it to end."""
        if self.tracer:
            self.tracer.close()
        if self.spark is not None:
            from pyspark import SparkContext

            proc = getattr(SparkContext._gateway, "proc", None)
            self.spark.stop()  # also stops the Python worker daemon
            if proc is not None:
                proc.stdin.close()  # the gateway JVM exits at EOF on its stdin
                proc.wait(timeout=60)
        shutil.rmtree(self.index_dir, ignore_errors=True)


def _gmean_of_medians(per_shape: list[list[float]]) -> float | None:
    """Each shape's median latency, then their geometric mean: every
    sample counts, and a mix of fast and slow shapes leaves no gap for a
    pooled median of a few queries to jump across. None without samples."""
    medians = [statistics.median(x) for x in per_shape if x]
    return statistics.geometric_mean(medians) if medians else None


def _du(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


def _proc_field(path: str, key: str) -> int:
    with open(path) as fh:
        for line in fh:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    return 0


def _vm_hwm_kb(pid: int) -> int:
    return _proc_field(f"/proc/{pid}/status", "VmHWM")


def _meminfo_kb(key: str) -> int:
    return _proc_field("/proc/meminfo", key)


def _cpu_jiffies() -> list[int]:
    """The machine-wide ``cpu`` line of /proc/stat (user, nice, system,
    idle, iowait, irq, softirq, steal, ...)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def _git_sha() -> str:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10).stdout.strip()
    except OSError:
        out = ""
    return out or "unknown (not a git checkout)"


if __name__ == "__main__":
    sys.exit(main())
