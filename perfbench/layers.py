"""Per-layer metrics of a traced run (``--trace 1``).

All of this is read after the timed loop: call walls and CPU from the
benchmark's own records, build phases from ``build_metrics``, checkpoint
figures from the index directory, Spark figures from the driver's status
store, and the query-layer split by re-running one batch one operator at
a time.
"""

from __future__ import annotations

import os
import statistics
import time

from probes import dir_bytes, job_busy_s, jobs_in, rollup, spark_jobs, stage_stats

BUILD_PHASES = ("docs", "corpus_stats", "postings", "compressed_lists",
                "term_stats", "block_max", "params", "parallel_group")
CKPT_STAGES = ("docs", "postings", "posting_lists", "term_stats", "block_max")
SPARK_CALLS = ("build_index", "add_documents", "retrieve_cold", "prepartition",
               "retrieve_warm", "point_retrieve")
ROLLUP_UNITS = {"jobs": "count", "tasks": "count", "executor_run_s": "s",
                "executor_cpu_s": "cpu-s", "shuffle_write_bytes": "B",
                "spill_bytes": "B", "task_s_max_over_median": "ratio"}
CKPT_UNITS = {"rows": "rows", "files": "count", "bytes": "B",
              "file_rows_max_over_median": "ratio"}


def query_split(spark, idx, queries, k: int) -> dict:
    """The exhaustive plan's layers, one operator call at a time."""
    from pyspark.sql import functions as F

    from bayesian_bm25_spark.functions.xxhash import term_bucket
    from bayesian_bm25_spark.operators import query as Q
    from bayesian_bm25_spark.sources.webcorpus import queries_to_df

    nb = idx.config.n_buckets
    qdf = queries_to_df(spark, queries)
    qt = Q.query_terms(qdf).persist()
    qt.count()
    pruned = Q.prune_query_terms_buckets(idx.postings, qt, nb)
    out = {
        "buckets_scanned": len({term_bucket(t, nb) for q in queries for t in q}),
        "postings_rows_probed": pruned.count(),
        "join_rows": pruned.join(F.broadcast(qt), "term").count(),
    }
    t0 = time.perf_counter()
    scored = Q.score_queries(idx.postings, qdf, n_buckets=nb).persist()
    out["candidates"] = scored.count()
    out["score_s"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    Q.with_probability(Q.topk(scored, k=k), idx.params, idx.avgdl).collect()
    out["topk_calibrate_s"] = time.perf_counter() - t0
    scored.unpersist()
    qt.unpersist()
    return out


def layer_metrics(B, *, built, appended, queried, served, rdds_growth,
                  batch_queries: int, k: int) -> dict:
    from bayesian_bm25_spark.functions.xxhash import term_bucket

    med = {name: statistics.median(v) for name, v in B.wall.items()}
    cpu = {name: statistics.median(v) for name, v in B.cpu.items()}
    m: dict[str, tuple[float, str]] = {
        "build.docs_per_s": (built.n_docs / B.wall["build_index"][-1], "docs/s"),
        "build.cpu_s": (B.cpu["build_index"][-1], "cpu-s"),
        "append.s": (med["add_documents"], "s"),
        "append.cpu_s": (cpu["add_documents"], "cpu-s"),
        "query.qps_cold": (batch_queries / med["retrieve_cold"], "queries/s"),
        "query.qps_warm": (batch_queries / med["retrieve_warm"], "queries/s"),
        "query.cpu_ms_cold": (cpu["retrieve_cold"] * 1e3 / batch_queries, "cpu-ms"),
        "query.cpu_ms_warm": (cpu["retrieve_warm"] * 1e3 / batch_queries, "cpu-ms"),
        "query.warm_layout_s": (med["prepartition"], "s"),
        "query.warm_layout_cpu_s": (cpu["prepartition"], "cpu-s"),
        "point.latency_p50_ms": (med["point_retrieve"] * 1e3, "ms"),
        "point.cpu_ms": (cpu["point_retrieve"] * 1e3, "cpu-ms"),
    }
    for prefix, index in (("build", built), ("append", appended)):
        phases = index.build_metrics["phase_sec"]
        for p in BUILD_PHASES:
            m[f"{prefix}.phase.{p}_s"] = (float(phases.get(p, 0.0)), "s")
    for stage in CKPT_STAGES:
        for key, v in stage_stats(os.path.join(built.path, stage)).items():
            m[f"ckpt.{stage}.{key}"] = (v, CKPT_UNITS[key])
    m["ckpt.index_bytes"] = (dir_bytes(built.path), "B")

    jobs = spark_jobs(B.spark)
    for call in SPARK_CALLS:
        for key, v in rollup(jobs_in(jobs, B.tracer.windows(call))).items():
            m[f"spark.{call}.{key}"] = (v, ROLLUP_UNITS[key])

    windows = B.tracer.windows("point_retrieve")
    point_jobs = jobs_in(jobs, windows)
    spanned = [(q, rows) for unit in served for q, rows, traced in unit["points"]
               if traced]
    nb = queried.config.n_buckets
    m["point.jobs_per_request"] = (len(point_jobs) / len(windows), "count")
    m["point.tasks_per_request"] = (rollup(point_jobs)["tasks"] / len(windows), "count")
    m["point.buckets_scanned"] = (statistics.mean(
        len({term_bucket(t, nb) for t in q}) for q, _ in spanned), "count")
    m["point.driver_s"] = (statistics.mean(
        (t1 - t0) - job_busy_s(point_jobs, t0, t1) for t0, t1 in windows), "s")
    m["point.rows_collected"] = (statistics.mean(len(rows) for _, rows in spanned), "rows")

    for key, v in query_split(B.spark, queried, served[0]["queries"], k).items():
        m[f"query.{key}"] = (v, "s" if key.endswith("_s") else "count")
    # a warm layout is the only frame the run keeps persisted
    m["query.warm_layout_cached_bytes"] = (sum(
        r.memSize() + r.diskSize()
        for r in B.spark.sparkContext._jsc.sc().getRDDStorageInfo()), "B")
    m["query.persisted_rdds_growth"] = (rdds_growth, "count")

    m["trace.spans"] = (len(B.tracer.spans), "count")
    m["trace.overhead_ms"] = (
        (med["point_retrieve"] - med["point_retrieve_unspanned"]) * 1e3, "ms")
    return m
