"""bb25-spark benchmark: one closed-loop client driving the engine's public API.

Run from the repository root:

    python3 perfbench/run.py --workload build --seed 1 --seconds 10 --trace 0

One client sends each call only after the previous one returned.  Each
run times round(--seconds / UNIT_S) units of work, at least one, and
reports the median unit:

  build   setup: start Spark, write a seeded Zipf page table to parquet,
          run one warm-up ``build_index``.  unit: ``build_index(force=True)``
          of the same table.
  query   setup: start Spark, ``load_index`` of a prebuilt index of a fixed
          Zipf corpus (built by the first run in a checkout, kept under
          ``.bench_work/cache/``), one warm-up batch, and the
          ``prepartition_for_scoring`` warm layout.  unit: a fresh seeded
          200-query Zipf batch on the loaded postings (cold) and on the warm
          layout, then single-query requests of uniformly drawn tail terms.

Results are checked against the numpy oracle outside the timed loop.
The last stdout line is one JSON object {correct, attempted, failed,
metrics}: end-to-end metrics with ``--trace 0``.  With ``--trace 1`` the run
also makes the other workload's calls and an ``add_documents`` append, so
that every layer reports, prints per-layer metrics, and writes its spans
under ``.bench_work/spans/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()

N_DOCS = 2000  # corpus size; vocabulary = N_DOCS terms (generate_pages default)
N_DELTA = 200  # appended docs, ids N_DOCS .. N_DOCS + N_DELTA - 1
CORPUS_SEED = 42  # the query workload's prebuilt corpus
BATCH_QUERIES = 200
POINTS_PER_UNIT = 3
UNIT_S = 10  # nominal length of one timed unit on 4 cores, both workloads
K = 10
CHECKED_PER_BATCH = 5


class Bench:
    """One run: the Spark session, seeded inputs, call timings and checks."""

    def __init__(self, args, work: str) -> None:
        import numpy as np

        from probes import Tracer

        from bayesian_bm25_spark.operators.index_build import IndexConfig

        self.args = args
        self.work = work
        self.cores = len(os.sched_getaffinity(0))
        self.rng = np.random.default_rng(args.seed)
        self.tracer = Tracer(bool(args.trace))
        self.cfg = IndexConfig(base_rate="auto")
        self.spark = None
        self.jvm_pid = 0
        self.wall: dict[str, list[float]] = {}
        self.cpu: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.mismatches: list[str] = []
        self._corpora: dict[int, tuple] = {}

    # -- session and inputs ---------------------------------------------

    def start_spark(self) -> None:
        from pyspark.sql import SparkSession

        tmp = os.path.join(self.work, "tmp")
        self.spark = (
            SparkSession.builder.master(f"local[{self.cores}]")
            .appName("bb25-perfbench")
            # the 2k-doc index needs well under 1 GB
            .config("spark.driver.memory", "2g")
            .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp}")
            .config("spark.sql.warehouse.dir", os.path.join(self.work, "warehouse"))
            .config("spark.sql.shuffle.partitions", str(max(self.cores * 4, 16)))
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.sql.execution.arrow.pyspark.enabled", "true")
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .getOrCreate()
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm_pid = self.spark.sparkContext._gateway.proc.pid

    def stop_spark(self) -> None:
        """Stop Spark and wait until the JVM and its Python workers exit.

        The gateway JVM exits when its stdin closes; its workers follow."""
        from probes import descendants

        proc = self.spark.sparkContext._gateway.proc
        pids = descendants(self.jvm_pid)
        self.spark.stop()
        self.spark = None
        proc.stdin.close()
        proc.wait(timeout=60)
        deadline = time.monotonic() + 60
        while any(os.path.exists(f"/proc/{p}") for p in pids):
            if time.monotonic() > deadline:
                raise TimeoutError(f"Spark processes still running: {pids}")
            time.sleep(0.1)

    def corpus(self, seed: int):
        """(page rows, oracle corpus) of the N_DOCS + N_DELTA docs of ``seed``."""
        if seed not in self._corpora:
            from oracle import Corpus

            from bayesian_bm25_spark.sources.webcorpus import generate_rows_local

            rows = generate_rows_local(N_DOCS + N_DELTA, seed=seed, vocab_size=N_DOCS)
            self._corpora[seed] = (rows, Corpus(rows))
        return self._corpora[seed]

    def oracle(self, seed: int, n_docs: int = N_DOCS):
        return self.corpus(seed)[1].view(n_docs, self.cfg.k1, self.cfg.b, self.cfg.method)

    def pages(self, seed: int, delta: bool = False):
        """The seeded page table (or its delta) as parquet, read back."""
        rows = self.corpus(seed)[0]
        path = os.path.join(self.work, f"{'delta' if delta else 'pages'}-{seed}")
        if not os.path.isdir(path):
            write_pages(rows[N_DOCS:] if delta else rows[:N_DOCS], path,
                        1 if delta else 2 * self.cores)
        return self.spark.read.parquet(path)

    def zipf_queries(self, n: int) -> list[list[str]]:
        """3-5 Zipf-sampled terms per query (webcorpus.generate_queries)."""
        from bayesian_bm25_spark.sources.webcorpus import generate_queries

        return generate_queries(N_DOCS, seed=int(self.rng.integers(1 << 31)),
                                vocab_size=N_DOCS, n_queries=n)

    def tail_query(self) -> list[str]:
        """2-4 terms drawn uniformly from the vocabulary: mostly rare terms."""
        n = int(self.rng.integers(2, 5))
        return [f"term_{t}" for t in self.rng.integers(0, N_DOCS, size=n)]

    # -- engine calls -------------------------------------------------------

    def usage(self) -> tuple[float, float]:
        """(wall clock, CPU seconds of the driver JVM and its Python workers)."""
        from probes import tree_usage

        return time.perf_counter(), tree_usage(self.jvm_pid)[1]

    def call(self, name: str, request: str, fn, span: bool = True):
        t0, c0 = self.usage()
        with self.tracer.span(name, request) if span else nullcontext():
            out = fn()
        t1, c1 = self.usage()
        self.wall.setdefault(name, []).append(t1 - t0)
        self.cpu.setdefault(name, []).append(c1 - c0)
        return out

    def build(self, seed: int, path: str):
        from bayesian_bm25_spark.operators.index_build import build_index

        pages = self.pages(seed)
        return self.call("build_index", f"build-{seed}", lambda: build_index(
            self.spark, pages, path, self.cfg, force=True))

    def append(self, idx, seed: int):
        from bayesian_bm25_spark.operators.index_build import add_documents

        delta = self.pages(seed, delta=True)
        idx2 = self.call("add_documents", f"append-{seed}", lambda: add_documents(
            idx, delta, os.path.join(self.work, f"appended-{seed}"), reuse_tf=True))
        self.check_index("append", idx2, seed, N_DOCS + N_DELTA)
        return idx2

    def retrieve(self, idx, queries, src=None, driver_terms=None):
        from bayesian_bm25_spark.operators import query as Q
        from bayesian_bm25_spark.sources.webcorpus import queries_to_df

        return Q.retrieve_auto(
            idx.postings if src is None else src, queries_to_df(self.spark, queries),
            idx.term_stats, idx.params, idx.avgdl, n_docs=idx.n_docs, k=K,
            n_buckets=idx.config.n_buckets, driver_terms=driver_terms,
            src_partitioned=src is not None)

    def warm_layout(self, idx):
        from bayesian_bm25_spark.operators import query as Q

        return self.call("prepartition", "warm_layout", lambda: (
            Q.prepartition_for_scoring(idx.postings, 2 * self.cores)))

    def serve_unit(self, idx, warm_src, u: int, n_points: int) -> dict:
        """One query batch cold and warm, then single-query requests."""
        queries = self.zipf_queries(BATCH_QUERIES)
        cold = self.call("retrieve_cold", f"unit{u}", lambda: (
            self.retrieve(idx, queries).collect()))
        warm = self.call("retrieve_warm", f"unit{u}", lambda: (
            self.retrieve(idx, queries, src=warm_src).collect()))
        points = []
        for i in range(n_points):
            q = self.tail_query()
            # a traced run leaves every other request without a span: the
            # latency difference is the tracing overhead
            spanned = (u * n_points + i) % 2 == 0
            rows = self.call(
                "point_retrieve" if spanned else "point_retrieve_unspanned",
                f"unit{u}-point{i}",
                lambda: self.retrieve(idx, [q], src=warm_src,
                                      driver_terms=sorted(set(q))).collect(),
                span=spanned)
            points.append((q, rows, spanned))
        return {"queries": queries, "cold": cold, "warm": warm, "points": points}

    def live_heap_mb(self) -> float:
        """Driver heap still in use after a full collection.

        Python's collection first drops the gateway references of dead
        frames; the pause lets Spark's ContextCleaner free the broadcasts
        and shuffles the first JVM collection found unreachable."""
        import gc

        jvm = self.spark.sparkContext._jvm
        gc.collect()
        jvm.System.gc()
        time.sleep(1.0)
        jvm.System.gc()
        heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        return heap.getHeapMemoryUsage().getUsed() / (1 << 20)

    def persisted_rdds(self) -> int:
        return self.spark.sparkContext._jsc.getPersistentRDDs().size()

    # -- oracle checks ------------------------------------------------------

    def record(self, what: str, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.mismatches.extend(f"{what}: {p}" for p in problems)

    def check_index(self, what: str, idx, seed: int, n_docs: int = N_DOCS) -> None:
        """n_docs/avgdl and a few Zipf queries against the oracle."""
        oracle = self.oracle(seed, n_docs)
        queries = self.zipf_queries(CHECKED_PER_BATCH)
        rows = self.retrieve(idx, queries).collect()
        problems = check_batch(oracle, idx.params, queries, rows, range(len(queries)))
        if idx.n_docs != oracle.n_docs:
            problems.append(f"n_docs {idx.n_docs} vs oracle {oracle.n_docs}")
        if abs(idx.avgdl - oracle.avgdl) > 1e-12 * oracle.avgdl:
            problems.append(f"avgdl {idx.avgdl!r} vs oracle {oracle.avgdl!r}")
        self.record(what, problems)

    def check_units(self, idx, seed: int, units: list[dict]) -> None:
        oracle = self.oracle(seed)
        for u, unit in enumerate(units):
            queries = unit["queries"]
            sample = sorted(self.rng.choice(len(queries), CHECKED_PER_BATCH, replace=False))
            for kind in ("cold", "warm"):
                self.record(f"{kind} batch {u}", check_batch(
                    oracle, idx.params, queries, unit[kind], sample))
            for i, (q, rows, _) in enumerate(unit["points"]):
                self.record(f"point {u}.{i}", check_batch(oracle, idx.params, [q], rows, [0]))


def write_pages(rows: list[dict], path: str, n_files: int) -> None:
    """Page rows as parquet in generate_pages' schema, ``n_files`` files."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([("doc_id", pa.int64()), ("url", pa.string()),
                        ("warc_ts", pa.timestamp("us")), ("html", pa.binary()),
                        ("text", pa.string()), ("lang", pa.string())])
    os.makedirs(path)
    step = -(-len(rows) // n_files)
    for i in range(0, len(rows), step):
        pq.write_table(pa.Table.from_pylist(rows[i:i + step], schema=schema),
                       os.path.join(path, f"part-{i // step:05d}.parquet"))


def check_batch(oracle, params, queries, rows, sample) -> list[str]:
    from oracle import check_topk

    got: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        got.setdefault(int(r["query_id"]), []).append(r)
    problems = []
    for qi in sample:
        rs = got.get(int(qi), [])
        why = check_topk(oracle, params, queries[qi], [int(r["doc_id"]) for r in rs],
                         [float(r["score"]) for r in rs],
                         [float(r["probability"]) for r in rs], k=K)
        if why:
            problems.append(f"query {qi} {queries[qi]}: {why}")
    return problems


def cached_index(B: Bench) -> str:
    """The query workload's index of the fixed corpus, built on first use.

    Keyed by the engine's source and the corpus settings, so a checkout
    with other engine code never reads another's index."""
    h = hashlib.sha256(repr((N_DOCS, CORPUS_SEED, B.cfg.to_dict())).encode())
    for root, dirs, files in os.walk(os.path.join(ROOT, "bayesian_bm25_spark")):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(root, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    path = os.path.join(ROOT, ".bench_work", "cache", f"index-{h.hexdigest()[:16]}")
    if not os.path.isdir(path):
        tmp = f"{path}.tmp-{os.getpid()}"
        B.build(CORPUS_SEED, tmp)
        os.rename(tmp, path)
    return path


def run(B: Bench) -> dict:
    from probes import RssSampler, dir_bytes

    from bayesian_bm25_spark.operators.index_build import build_index, load_index

    workload, seed = B.args.workload, B.args.seed
    t_setup = time.perf_counter()
    B.start_spark()
    if workload == "build":
        build_index(B.spark, B.pages(seed), os.path.join(B.work, "warmup"), B.cfg,
                    force=True)
        idx_seed = seed
    else:
        idx_seed = CORPUS_SEED
        idx = load_index(B.spark, cached_index(B))
        B.retrieve(idx, B.zipf_queries(BATCH_QUERIES)).collect()
        warm_src = B.warm_layout(idx)
    setup_s = time.perf_counter() - t_setup

    units, unit_wall, unit_cpu = [], [], []
    rdds_before = B.persisted_rdds()
    rss = RssSampler(B.jvm_pid) if B.tracer.enabled else nullcontext()
    with rss:
        for _ in range(max(1, round(B.args.seconds / UNIT_S))):
            t0, c0 = B.usage()
            if workload == "build":
                path = os.path.join(B.work, f"index-{len(units)}")
                units.append(B.build(seed, path))
            else:
                units.append(B.serve_unit(idx, warm_src, len(units), POINTS_PER_UNIT))
            t1, c1 = B.usage()
            unit_wall.append(t1 - t0)
            unit_cpu.append(c1 - c0)

    if workload == "build":
        for u, built in enumerate(units):
            B.check_index(f"build {u}", built, seed)
        idx = units[-1]
    else:
        B.check_units(idx, CORPUS_SEED, units)
    text_bytes = int(B.corpus(idx_seed)[1].text_bytes[:N_DOCS].sum())
    metrics = {
        "setup_s": (setup_s, "s"),
        "unit_wall_s": (statistics.median(unit_wall), "s"),
        "unit_cpu_s": (statistics.median(unit_cpu), "cpu-s"),
        "index_bytes_per_text_byte": (dir_bytes(idx.path) / text_bytes, "ratio"),
    }
    if B.tracer.enabled:
        from layers import layer_metrics

        rdds_growth = B.persisted_rdds() - rdds_before
        live_heap_mb = B.live_heap_mb()
        # make the calls the timed loop did not, so every layer reports
        if workload == "query":
            built = B.build(seed, os.path.join(B.work, "index-traced"))
            B.check_index("traced build", built, seed)
            queried, served = idx, units
        else:
            built = idx
            queried = load_index(B.spark, built.path)
            served = [B.serve_unit(queried, B.warm_layout(queried), 0, 2)]
            B.check_units(queried, seed, served)
        appended = B.append(built, seed)
        metrics = layer_metrics(B, built=built, appended=appended, queried=queried,
                                served=served, rdds_growth=rdds_growth,
                                batch_queries=BATCH_QUERIES, k=K)
        metrics["mem.live_heap_mb"] = (live_heap_mb, "MB")
        metrics["mem.peak_rss_mb"] = (rss.peak_kb / 1024, "MB")
        metrics["mem.jvm_peak_rss_mb"] = (rss.peak_root_kb / 1024, "MB")
    return metrics


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("build", "query"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "bayesian_bm25_spark")):
        print("perfbench: bayesian_bm25_spark/ not found; run from the repository root",
              file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    work = os.path.join(ROOT, ".bench_work", f"run-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # Spark, its Python workers and tempfile all stay inside the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    try:
        from bayesian_bm25_spark.bench_canary import run_canary

        B = Bench(args, work)
        canary_pre = run_canary(repeats=1, wide=False)
        try:
            metrics = run(B)
        finally:
            if B.spark is not None:
                B.stop_spark()
        context = {
            "workload": args.workload, "seed": args.seed, "cores": B.cores,
            "n_docs": N_DOCS, "wall_s": B.wall, "cpu_s": B.cpu,
            "canary": {"pre": canary_pre, "post": run_canary(repeats=1, wide=False)},
        }
    except Exception:  # noqa: BLE001 — a crashed run prints no result
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(f"# {json.dumps(context)}", file=sys.stderr)
    if B.tracer.enabled:
        span_file = os.path.join(ROOT, ".bench_work", "spans",
                                 f"{args.workload}-seed{args.seed}-{os.getpid()}.json")
        B.tracer.write(span_file, {"context": context})
        print(f"# spans: {span_file}", file=sys.stderr)
    for m in B.mismatches:
        print(f"ORACLE MISMATCH {m}", file=sys.stderr)
    print(json.dumps({
        "correct": not B.mismatches,
        "attempted": B.attempted,
        "failed": B.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if not B.mismatches else 1


if __name__ == "__main__":
    sys.exit(main())
