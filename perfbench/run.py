#!/usr/bin/env python3
"""End-to-end benchmark of the word2doc_spark retrieval engine.

Run from the repository root:

    python3 perfbench/run.py --workload batch_query --seed 1 --seconds 14 --trace 0

One run starts a ``local[<cores>]`` Spark session in this process,
generates the workload's corpus and queries from ``--seed`` and sets up:
it builds the serving index (``build_docs_per_s``: the session's first
build, as ``scripts/build_index.py`` runs it) and runs the check batch
through ``search_exact`` (drqa and bm25), whose rows are the reference
of every later check. Then it measures a closed loop with one client,
every call waiting for its result before the next is issued:

* one unmeasured warm-up pass of the query batch through
  ``search_fast`` and ``search_wand`` (drqa);
* rounds, until ``--seconds`` have passed since the warm-up began (at
  least three): the query batch through ``search_fast`` and
  ``search_wand`` (drqa), then one single-query ``search_fast`` bm25
  call, the serve loop of ``scripts/interactive.py``.

A traced run also builds the index a second time, before the warm-up;
the two indexes must be digest-identical.

Every call is checked: fast and WAND must return the same rows for the
whole batch, and fast, WAND and serve rows must equal ``search_exact``'s
for the same score mode on the check queries. A call that raises or
differs counts as failed.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` enables the
Spark event log and job-group spans, adds direct layer calls, and prints
the per-layer metrics (see ``perfbench/README.md``). The last stdout line
is one JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.check import by_query, log, same_as  # noqa: E402

# perfbench.workload.REGIMES, named here so that arguments parse (and a
# checkout without the engine is refused) before anything is imported
WORKLOADS = ("batch_query", "deep_query")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="length of the measured rounds")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="corpus and batch size factor (smoke tests)")
    return p.parse_args(argv)


def index_digest(index_dir: str) -> str:
    """Order-insensitive content hash of the published segments."""
    import pyarrow.dataset as ds
    tbl = ds.dataset(os.path.join(index_dir, "shards"), format="parquet",
                     partitioning="hive").to_table(
        columns=["term_id", "range_id", "seg_id", "payload"])
    h = hashlib.sha256()
    for r in sorted(zip(*(tbl.column(c).to_pylist() for c in
                          ("term_id", "range_id", "seg_id", "payload")))):
        h.update(f"{r[0]}:{r[1]}:{r[2]}:".encode())
        h.update(r[3])
    return h.hexdigest()


def cpu_steal_s() -> float:
    """CPU time the hypervisor took from this machine since boot."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


# -- session ---------------------------------------------------------------

def start_session(work: str, cores: int, mem_mb: int, extra: dict):
    from pyspark.sql import SparkSession
    conf = {
        "spark.master": f"local[{cores}]",
        "spark.app.name": "word2doc_spark-perfbench",
        "spark.driver.memory": f"{min(max(mem_mb // 16, 1024), 4096)}m",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.sql.shuffle.partitions": str(2 * cores),
        "spark.sql.adaptive.enabled": "true",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        **extra,
    }
    b = SparkSession.builder
    for k, v in conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it launched, and wait for both."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()   # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


# -- the run ---------------------------------------------------------------

class Run:
    """One benchmark run: set-up, measured rounds, checks, metrics."""

    def __init__(self, args, work: str):
        from perfbench.workload import REGIMES, machine
        self.args = args
        self.work = work
        self.regime = REGIMES[args.workload]
        self.cores, self.mem_mb = machine()
        self.traced = bool(args.trace)
        self.attempted = 0
        self.failed = 0
        self.walls: dict[str, list[float]] = {}
        self.digest_ok = True   # checked by traced runs

    def op(self, name: str, fn, check=None):
        """One closed-loop call: time fn(), then check its result."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception as e:  # noqa: BLE001 — counted, the run goes on
            self.failed += 1
            log(f"{name} raised {type(e).__name__}: {e}")
            return None
        self.walls.setdefault(name, []).append(time.perf_counter() - t0)
        if check is not None and not check(out):
            self.failed += 1
            log(f"{name} returned rows that differ from its reference")
        return out

    def count(self, ok: bool, what: str) -> None:
        """Count one checked call made outside ``op``."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            log(f"{what} differs from its reference")

    def execute(self) -> dict:
        from perfbench.trace import attribute, event_log_conf
        log_dir = os.path.join(self.work, "events")
        extra = {}
        if self.traced:
            os.makedirs(log_dir)
            extra = event_log_conf(log_dir)
        steal0 = cpu_steal_s()
        t0 = time.perf_counter()
        spark = start_session(self.work, self.cores, self.mem_mb, extra)
        session_s = time.perf_counter() - t0
        try:
            metrics = self.measure(spark, session_s)
        finally:
            stop_session(spark)
        log(f"run wall {time.perf_counter() - t0:.1f}s, cpu steal "
            f"{cpu_steal_s() - steal0:.1f}s")
        if self.traced:
            # the event log is complete only once the session has stopped
            metrics.update(self.span_metrics(attribute(log_dir,
                                                       self.tracer.spans)))
            for span in self.tracer.spans:
                log("span " + json.dumps(span.record()))
        missing = [k for k, (v, _) in metrics.items()
                   if v is None or not math.isfinite(v)]
        if missing:
            log(f"no value for {missing}")
        return {
            "correct": self.digest_ok and self.failed == 0 and not missing,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v if k not in missing else None,
                            "unit": u}
                        for k, (v, u) in metrics.items()},
        }

    def measure(self, spark, session_s: float) -> dict:
        from perfbench import layers
        from perfbench.trace import Tracer, peak_rss_mb
        from perfbench.workload import (CHECK_QUERIES, MIN_ROUNDS,
                                        SERVE_QUERIES, TRACED_ROUNDS,
                                        generate_corpus, make_queries,
                                        write_corpus)
        from word2doc_spark.config import IndexConfig
        from word2doc_spark.index.build import build_index
        from word2doc_spark.query.exact import search_exact
        from word2doc_spark.query.fast import search_fast
        from word2doc_spark.query.wand import search_wand

        args, rg, cores = self.args, self.regime, self.cores
        n_pages = max(int(rg.pages_per_core * cores * args.scale), 200)
        n_batch = max(int(rg.queries_per_core * cores * args.scale), 16)
        n_check = min(CHECK_QUERIES, n_batch)
        sc = spark.sparkContext
        self.tracer = tracer = Tracer(sc, enabled=self.traced)
        untagged = Tracer(sc, enabled=False)

        # ---- set-up: corpus, serving index, exact twin ---------------------
        gen_walls = []
        for _ in range(3):
            t = time.perf_counter()
            corpus = generate_corpus(rg, n_pages, args.seed)
            gen_walls.append(time.perf_counter() - t)
        t = time.perf_counter()
        corpus_dir = os.path.join(self.work, "corpus")
        write_corpus(corpus, corpus_dir, 2 * cores)
        corpus_s = statistics.median(gen_walls) + time.perf_counter() - t
        pages = spark.read.parquet(corpus_dir)
        config = IndexConfig(hash_size=2 ** 22, num_shards=max(4, cores),
                             n_ranges=rg.n_ranges)

        def build(index_dir):
            return build_index(spark, pages, index_dir, config,
                               input_token=f"perfbench-{args.seed}")

        idx = os.path.join(self.work, "index")
        t = time.perf_counter()
        with tracer.span("setup.build"):
            self.op("setup_build", lambda: build(idx))
        build_s = time.perf_counter() - t

        def qdf(rows):
            return spark.createDataFrame(rows, "query_id long, query string")

        batch = make_queries(rg, corpus, n_batch, args.seed, salt=0)
        serve = make_queries(rg, corpus, SERVE_QUERIES, args.seed,
                             salt=1_000_000)
        check_rows = batch[:n_check] + serve
        check_qids = [q for q, _ in batch[:n_check]]
        batch_df, check_df = qdf(batch), qdf(check_rows)
        k = rg.k
        ref: dict = {}

        def matches(mode, qids):
            """rows equal the exact twin's for these queries"""
            def check(rows):
                return same_as(ref[mode], qids, k)(rows)
            return check

        def exact(mode, df):
            return lambda: search_exact(spark, idx, df, k=k,
                                        score_mode=mode).collect()

        def ranges(fn, mode, df):
            return lambda: fn(spark, idx, df, k=k, score_mode=mode).collect()

        # the exact twin's rows are the reference of every later check
        t = time.perf_counter()
        for mode in ("drqa", "bm25"):
            with tracer.span(f"query.exact:{mode}"):
                ref[mode] = by_query(self.op(f"exact_{mode}",
                                             exact(mode, check_df)) or [])
        ref_s = time.perf_counter() - t
        setup_s = session_s + corpus_s + build_s + ref_s
        log(f"set-up {setup_s:.1f}s: session {session_s:.1f}, corpus "
            f"{corpus_s:.2f} ({n_pages} pages), build {build_s:.1f}, "
            f"exact twin {ref_s:.1f}")

        # ---- traced run: a second build -----------------------------------
        # Its span gives the index.build metrics (a warm build, so they
        # are not blurred by the session's first use of its workers), and
        # its index must be digest-identical to the set-up build.
        # Untraced runs skip it: it would take a sixth of every run.
        if self.traced:
            idx2 = os.path.join(self.work, "index2")
            with tracer.span("index.build"):
                self.op("build", lambda: build(idx2))
            try:
                self.digest_ok = index_digest(idx) == index_digest(idx2)
            except OSError as e:   # a build that failed left no index
                log(f"index digest: {e}")
                self.digest_ok = False
            if not self.digest_ok:
                log("two builds of one corpus gave different indexes")
            shutil.rmtree(idx2, ignore_errors=True)

        # ---- measured section -------------------------------------------
        t_measure = time.perf_counter()

        # warm-up, not measured: the batch once through each path. A
        # path's first batch pays its workers' first use, and the segment
        # cache materializes on a build's second ranges call.
        batch_qids = [q for q, _ in batch]
        with untagged.span("query.ranges.warmup:fast"):
            fast_rows = self.op("warmup_fast", ranges(
                search_fast, "drqa", batch_df), matches("drqa", check_qids))
        with untagged.span("query.ranges.warmup:wand"):
            self.op("warmup_wand", ranges(search_wand, "drqa", batch_df),
                    same_as(by_query(fast_rows or []), batch_qids, k))

        # rounds of (fast batch, WAND batch, one bm25 serve call) until
        # --seconds have passed since the warm-up began, at least
        # MIN_ROUNDS (the median of three outvotes one call that a burst
        # of host load slowed), at most one per serve query. A traced run
        # makes TRACED_ROUNDS, alternately tagged and untagged: the
        # difference of their median walls is the tracing overhead.
        rounds = 0
        while rounds < len(serve) and (
                rounds < (TRACED_ROUNDS if self.traced else MIN_ROUNDS)
                or (not self.traced
                    and time.perf_counter() - t_measure < args.seconds)):
            tr = untagged if self.traced and rounds % 2 else tracer
            r0 = time.perf_counter()
            with tr.span(f"query.ranges.batch:fast:{rounds}"):
                fast_rows = self.op("fast", ranges(
                    search_fast, "drqa", batch_df),
                    matches("drqa", check_qids))
            with tr.span(f"query.ranges.batch:wand:{rounds}"):
                self.op("wand", ranges(search_wand, "drqa", batch_df),
                        same_as(by_query(fast_rows or []), batch_qids, k))
            qid, q = serve[rounds]
            with tr.span(f"query.ranges.serve:{qid}"):
                self.op("serve", ranges(search_fast, "bm25",
                                        qdf([(qid, q)])),
                        matches("bm25", [qid]))
            kind = "tagged" if tr is tracer else "untagged"
            self.walls.setdefault(f"round_{kind}", []).append(
                time.perf_counter() - r0)
            rounds += 1
        rss = peak_rss_mb(sc._jvm.java.lang.ProcessHandle.current().pid())
        log(f"measured {time.perf_counter() - t_measure:.1f}s in {rounds} "
            f"rounds; walls " + json.dumps(
                {n: [round(x, 3) for x in w] for n, w in self.walls.items()}))

        def per_s(name, n):
            w = self.walls.get(name)
            return n / statistics.median(w) if w else None

        if not self.traced:
            serve_w = self.walls.get("serve")
            return {
                "setup_s": (setup_s, "s"),
                "build_docs_per_s": (per_s("setup_build", n_pages),
                                     "docs/s"),
                "index_bytes_per_doc": (dir_bytes(idx) / n_pages, "B"),
                "qps_fast": (per_s("fast", n_batch), "q/s"),
                "qps_wand": (per_s("wand", n_batch), "q/s"),
                "serve_latency_p50_ms": (
                    statistics.median(serve_w) * 1e3 if serve_w else None,
                    "ms"),
                "peak_rss_mb": (rss, "MB"),
            }

        # ---- traced run: direct layer calls --------------------------------
        out = {}
        for name, fn in (
                ("functions", lambda: layers.functions_layer(corpus.table,
                                                             config)),
                ("stages", lambda: layers.stage_layers(tracer, pages,
                                                       config)),
                ("postings", lambda: layers.postings_layer(
                    idx, config.block_size, self.count)),
                ("manifest", lambda: layers.manifest_layer(idx)),
                ("kernels", lambda: layers.kernel_layers(
                    spark, idx, batch[:64], k, self.count)),
                ("prepare", lambda: layers.prepare_layer(
                    tracer, spark, idx, qdf,
                    make_queries(rg, corpus, 4, args.seed,
                                 salt=2_000_000)))):
            t = time.perf_counter()
            out.update(fn())
            log(f"layer {name}: {time.perf_counter() - t:.1f}s")
        out["query.exact.qps"] = per_s("exact_bm25", len(check_rows))
        out["trace.overhead_s"] = (
            statistics.median(self.walls["round_tagged"])
            - statistics.median(self.walls["round_untagged"]))
        return {name: (v, LAYER_UNITS[name]) for name, v in out.items()}

    def span_metrics(self, log_bytes: int) -> dict:
        """Per-layer metrics from the spans' event-log attribution."""
        tracer, cores = self.tracer, self.cores

        def med(spans, attr):
            return statistics.median(getattr(s, attr) for s in spans)

        def occupancy(spans):
            return statistics.median(s.executor_run_s / (s.wall_s * cores)
                                     for s in spans)

        b = tracer.named("index.build")
        exact = tracer.named("query.exact:bm25")
        serve = tracer.named("query.ranges.serve:")
        fast = tracer.named("query.ranges.batch:fast:")
        values = {
            "index.build.jobs": med(b, "jobs"),
            "index.build.stages": med(b, "stages"),
            "index.build.tasks": med(b, "tasks"),
            "index.build.executor_run_s": med(b, "executor_run_s"),
            "index.build.executor_cpu_s": med(b, "executor_cpu_s"),
            "index.build.occupancy": occupancy(b),
            "index.build.shuffle_write_mb": med(b, "shuffle_write_mb"),
            "index.build.spill_mb": med(b, "spill_mb"),
            "index.build.python_sent_mb": med(b, "python_sent_mb"),
            "index.build.python_received_mb": med(b, "python_received_mb"),
            "index.build.python_boot_s": med(b, "python_boot_s"),
            "query.exact.jobs_per_call": med(exact, "jobs"),
            "query.exact.shuffle_mb_per_call": med(exact, "shuffle_write_mb"),
            "query.exact.executor_run_s": med(exact, "executor_run_s"),
            "query.ranges.jobs_per_call": med(serve, "jobs"),
            "query.ranges.tasks_per_call": med(serve, "tasks"),
            "query.ranges.driver_s": med(serve, "driver_s"),
            "query.ranges.job_wall_s": med(serve, "job_wall_s"),
            "query.ranges.call_wall_s": med(serve, "wall_s"),
            "query.ranges.python_sent_mb_per_call": med(fast,
                                                        "python_sent_mb"),
            "query.ranges.shuffle_mb_per_call": med(fast, "shuffle_write_mb"),
            "query.ranges.occupancy": occupancy(fast),
            "trace.event_log_mb": log_bytes / 2 ** 20,
        }
        return {name: (v, LAYER_UNITS[name]) for name, v in values.items()}


LAYER_UNITS = {
    "functions.extract.mb_per_s": "MB/s",
    "functions.analyze.docs_per_s": "docs/s",
    "functions.hashing.terms_per_s": "terms/s",
    "index.analyze.extract_s": "s",
    "index.analyze.analyze_s": "s",
    "index.docids.assign_s": "s",
    "index.build.jobs": "count",
    "index.build.stages": "count",
    "index.build.tasks": "count",
    "index.build.executor_run_s": "s",
    "index.build.executor_cpu_s": "s",
    "index.build.occupancy": "ratio",
    "index.build.shuffle_write_mb": "MB",
    "index.build.spill_mb": "MB",
    "index.build.python_sent_mb": "MB",
    "index.build.python_received_mb": "MB",
    "index.build.python_boot_s": "s",
    "index.postings.encode_mb_per_s": "MB/s",
    "index.postings.decode_mb_per_s": "MB/s",
    "index.postings.block_decode_mb_per_s": "MB/s",
    "index.postings.bytes_per_posting": "B",
    "index.manifest.load_ms": "ms",
    "query.exact.prepare_ms": "ms",
    "query.exact.qps": "q/s",
    "query.exact.jobs_per_call": "count",
    "query.exact.shuffle_mb_per_call": "MB",
    "query.exact.executor_run_s": "s",
    "query.ranges.jobs_per_call": "count",
    "query.ranges.tasks_per_call": "count",
    "query.ranges.driver_s": "s",
    "query.ranges.job_wall_s": "s",
    "query.ranges.call_wall_s": "s",
    "query.ranges.python_sent_mb_per_call": "MB",
    "query.ranges.shuffle_mb_per_call": "MB",
    "query.ranges.occupancy": "ratio",
    "query.fast.postings_per_s": "postings/s",
    "query.wand.postings_per_s": "postings/s",
    "query.wand.blocks_decoded": "count",
    "query.wand.blocks_skipped": "count",
    "query.wand.skip_share": "ratio",
    "trace.overhead_s": "s",
    "trace.event_log_mb": "MB",
}


def main(argv=None) -> int:
    args = parse_args(sys.argv[1:] if argv is None else argv)
    if not os.path.isdir(os.path.join(ROOT, "word2doc_spark")):
        log(f"no word2doc_spark package beside {HERE}: run it from a "
            "checkout of the repository")
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    # everything the run, its JVM and its Python workers write stays here
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM spark-submit starts (its launcher too): temp files in the
    # work dir, no perf-data file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    try:
        result = Run(args, work).execute()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass   # another run still holds its own work dir
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
