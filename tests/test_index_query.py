"""End-to-end: Spark index build + query path vs the numpy oracle.

Rank-identity contract (north rule): top-k doc_ids identical, BM25
scores within rtol 1e-9, calibrated probabilities within rtol 1e-9.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from bayesian_bm25_spark.kernel.bm25 import (
    BM25Oracle,
    estimate_alpha_beta,
    estimate_base_rate,
    sample_pseudo_query_scores,
    tokenize,
)
from bayesian_bm25_spark.kernel.transform import TransformParams
from bayesian_bm25_spark.operators import query as Q
from bayesian_bm25_spark.operators.index_build import IndexConfig, build_index, load_index
from bayesian_bm25_spark.sources.webcorpus import (
    generate_pages,
    generate_queries,
    generate_rows_local,
    queries_to_df,
)
from tests.conftest import SIX_DOC_QUERIES, SIX_DOCS

ZIPF_N_DOCS = 3000


def pages_df_from_texts(spark, texts):
    rows = [
        (i, f"https://example.org/doc/{i}", t, "en")
        for i, t in enumerate(texts)
    ]
    return spark.createDataFrame(rows, "doc_id long, url string, text string, lang string")


@pytest.fixture(scope="module")
def six_index(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("idx_six"))
    pages = pages_df_from_texts(spark, SIX_DOCS)
    return build_index(spark, pages, path, IndexConfig(base_rate="auto"))


@pytest.fixture(scope="module")
def zipf_index(spark, tmp_path_factory):
    """``zipf_index(build_compressed)``: a 3000-doc Zipf corpus built
    once per build path and module — big enough for multi-split reads
    and head terms spanning many map-side batches."""
    built = {}

    def get(build_compressed: bool):
        if build_compressed not in built:
            built[build_compressed] = build_index(
                spark,
                generate_pages(spark, ZIPF_N_DOCS, seed=11, num_partitions=8),
                str(tmp_path_factory.mktemp("idx_zipf")),
                IndexConfig(
                    alpha=1.0, beta=1.0, base_rate=0.05,
                    build_compressed=build_compressed,
                ),
            )
        return built[build_compressed]

    return get


def expected_posting_lists(postings) -> dict:
    """term → (df, payload): the numpy codec applied to each term's rows
    of the flat postings checkpoint, in doc_id order."""
    from bayesian_bm25_spark.kernel.postings_codec import encode_posting_list

    flat = postings.select("term", "doc_id", "tf", "impact").toPandas()
    return {
        t: (len(g), encode_posting_list(
            g["doc_id"].to_numpy(), g["tf"].to_numpy(), g["impact"].to_numpy()
        ))
        for t, g in flat.sort_values(["term", "doc_id"]).groupby("term")
    }


@pytest.fixture(scope="module")
def six_oracle():
    o = BM25Oracle()
    corpus = [tokenize(d) for d in SIX_DOCS]
    o.index(corpus)
    pq = sample_pseudo_query_scores(o, corpus)
    a, b = estimate_alpha_beta(pq)
    br = estimate_base_rate(pq, o.n_docs, "percentile")
    return o, TransformParams(alpha=a, beta=b, base_rate=br)


class TestBuild:
    def test_build_scoped_conf_restored(self, spark, tmp_path):
        """build_index's session tuning (split cap, zstd codec, v2
        committer, reader batch) must not leak: keys unset before the
        build stay unset after (conf.unset, not a skipped restore)."""
        keys = [
            "spark.sql.files.maxPartitionBytes",
            "spark.sql.parquet.compression.codec",
            "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version",
            "spark.sql.parquet.columnarReaderBatchSize",
        ]
        before = {k: spark.conf.get(k, None) for k in keys}
        pages = pages_df_from_texts(spark, SIX_DOCS)
        build_index(spark, pages, str(tmp_path / "conf_idx"), IndexConfig())
        after = {k: spark.conf.get(k, None) for k in keys}
        assert after == before

    def test_streamed_compressed_lists_equal_checkpointed(self, spark, tmp_path):
        """The streamed codec path (map-side partials → one shuffle of
        compressed bytes → merge, one write) must produce posting lists
        byte-identical to the numpy codec applied to the checkpointed
        flat postings, and write no intermediate ``segments`` stage."""
        import os

        pages = pages_df_from_texts(spark, SIX_DOCS)
        path = tmp_path / "pl_stream"
        idx = build_index(spark, pages, str(path), IndexConfig(alpha=1.0, beta=1.0))
        got = {r["term"]: (r["df"], bytes(r["payload"]))
               for r in idx.posting_lists.collect()}
        assert got == expected_posting_lists(idx.postings) and len(got) > 0
        assert not os.path.exists(str(path / "segments"))

    def test_mapside_partials_equal_salted_streamed_zipf(self, zipf_index):
        """Map-side partial encode (per-batch numpy sort + varbyte
        partials, merged after one compressed-bytes shuffle) must be
        byte-identical to a one-shot encode of each term's whole sorted
        postings, on a Zipf corpus whose head terms span many batches."""
        idx = zipf_index(True)
        want = expected_posting_lists(idx.postings)
        got = {r["term"]: (r["df"], bytes(r["payload"]))
               for r in idx.posting_lists.collect()}
        assert got == want
        assert max(df for df, _ in got.values()) > ZIPF_N_DOCS // 2

    @pytest.mark.parametrize("build_compressed", [True, False])
    def test_build_artifacts_match_numpy_oracle_zipf(
        self, zipf_index, build_compressed
    ):
        """Every build artifact against the numpy kernel on the local
        twin of a Zipf corpus big enough for multi-split reads and
        multi-batch head terms: postings, term_stats and block_max on
        both term-stats paths (derived from the posting-list merge, or
        standalone postings scans), plus the varbyte payloads when
        compressed lists are built."""
        from collections import Counter

        from bayesian_bm25_spark.functions.xxhash import term_bucket
        from bayesian_bm25_spark.kernel.postings_codec import decode_posting_list

        idx = zipf_index(build_compressed)
        cfg = idx.config
        corpus = [
            tokenize(r["text"]) for r in generate_rows_local(ZIPF_N_DOCS, seed=11)
        ]
        oracle = BM25Oracle()
        oracle.index(corpus)
        tf_maps = [Counter(doc) for doc in corpus]
        want = pd.DataFrame(
            [
                (t, d, tf_maps[d][t], oracle.df[t], imp)
                for t in sorted(oracle.df)
                for d, imp in sorted(oracle._impacts[t].items())
            ],
            columns=["term", "doc_id", "tf", "df", "impact"],
        )
        keys = ["term", "doc_id", "tf", "df"]

        # flat postings: (term, doc_id), tf and df exact, impacts to 1e-12
        got = (
            idx.postings.select(*keys, "impact")
            .toPandas().sort_values(["term", "doc_id"], ignore_index=True)
        )
        assert got[keys].values.tolist() == want[keys].values.tolist()
        assert got["impact"].to_numpy() == pytest.approx(
            want["impact"].to_numpy(), rel=1e-12
        )

        # term_stats: df, impact bounds and the θ-pass prefix cutoff (the
        # prefix_len-th largest impact)
        assert idx.term_stats.schema.simpleString() == (
            "struct<term:string,term_bucket:int,df:bigint,max_impact:double,"
            "min_impact:double,prefix_cutoff:double>"
        )
        by_term = want.groupby("term")["impact"]
        want_stats = pd.DataFrame({
            "df": by_term.size(),
            "max_impact": by_term.max(),
            "min_impact": by_term.min(),
            "prefix_cutoff": by_term.apply(
                lambda s: np.sort(s.to_numpy())[::-1][: cfg.prefix_len][-1]
            ),
        })
        want_stats["term_bucket"] = [
            term_bucket(t, cfg.n_buckets) for t in want_stats.index
        ]
        got_stats = idx.term_stats.toPandas().set_index("term").sort_index()
        assert got_stats.index.tolist() == want_stats.index.tolist()
        assert got_stats[["term_bucket", "df"]].values.tolist() == (
            want_stats[["term_bucket", "df"]].values.tolist()
        )
        for c in ("max_impact", "min_impact", "prefix_cutoff"):
            assert got_stats[c].to_numpy() == pytest.approx(
                want_stats[c].to_numpy(), rel=1e-12
            ), c

        # block_max: max impact per (term, doc_id // block_size)
        assert idx.block_max.schema.simpleString() == (
            "struct<term:string,block_id:bigint,block_max_impact:double>"
        )
        want_blocks = (
            want.assign(block_id=want["doc_id"] // cfg.block_size)
            .groupby(["term", "block_id"])["impact"].max().reset_index()
        )
        got_blocks = idx.block_max.toPandas().sort_values(
            ["term", "block_id"], ignore_index=True
        )
        assert got_blocks[["term", "block_id"]].values.tolist() == (
            want_blocks[["term", "block_id"]].values.tolist()
        )
        assert got_blocks["block_max_impact"].to_numpy() == pytest.approx(
            want_blocks["impact"].to_numpy(), rel=1e-12
        )

        if not build_compressed:
            assert idx.posting_lists is None
            return
        # posting lists: each payload decodes to exactly the term's flat
        # postings rows (byte identity: test_mapside_partials_...)
        flat = dict(list(got.groupby("term")))
        lists = idx.posting_lists.select("term", "df", "payload").collect()
        assert sorted(r["term"] for r in lists) == sorted(flat)
        for r in lists:
            payload = bytes(r["payload"])
            d, tf, imp = decode_posting_list(payload)
            g = flat[r["term"]]
            assert r["df"] == len(g)
            np.testing.assert_array_equal(d, g["doc_id"].to_numpy())
            np.testing.assert_array_equal(tf, g["tf"].to_numpy())
            np.testing.assert_array_equal(imp, g["impact"].to_numpy())

    def test_corpus_stats(self, six_index):
        corpus = [tokenize(d) for d in SIX_DOCS]
        assert six_index.n_docs == 6
        assert six_index.avgdl == pytest.approx(np.mean([len(c) for c in corpus]))

    def test_postings_match_oracle_impacts(self, six_index, six_oracle):
        oracle, _ = six_oracle
        rows = six_index.postings.collect()
        assert len(rows) == sum(len(m) for m in oracle._impacts.values())
        for r in rows:
            assert r["impact"] == pytest.approx(
                oracle._impacts[r["term"]][r["doc_id"]], rel=1e-12
            ), (r["term"], r["doc_id"])
            assert r["df"] == oracle.df[r["term"]]

    def test_term_stats(self, six_index, six_oracle):
        oracle, _ = six_oracle
        ubs = oracle.term_upper_bounds()
        for r in six_index.term_stats.collect():
            assert r["max_impact"] == pytest.approx(ubs[r["term"]], rel=1e-12)

    def test_params_match_oracle_estimation(self, six_index, six_oracle):
        _, params = six_oracle
        assert six_index.params.alpha == pytest.approx(params.alpha, rel=1e-9)
        assert six_index.params.beta == pytest.approx(params.beta, rel=1e-9)
        assert six_index.params.base_rate == pytest.approx(params.base_rate, rel=1e-9)

    def test_params_distributed_chain_equals_collect_zipf(
        self, spark, zipf_index, monkeypatch
    ):
        """Params estimation's driver collect and its distributed chain
        (corpora from ``_PARAMS_COLLECT_MAX`` docs) estimate the same
        α, β and base rate from the same pseudo-query sample."""
        import os

        from bayesian_bm25_spark.operators import index_build

        idx = zipf_index(True)
        docs = spark.read.parquet(os.path.join(idx.path, "docs"))
        cfg = IndexConfig(base_rate="auto")

        def estimate():
            return index_build._estimate_params(
                spark, docs, idx.postings, cfg, idx.n_docs
            )

        collected = estimate()
        monkeypatch.setattr(index_build, "_PARAMS_COLLECT_MAX", 0)
        distributed = estimate()
        for name in ("alpha", "beta", "base_rate"):
            assert getattr(distributed, name) == pytest.approx(
                getattr(collected, name), rel=1e-9
            ), name

    def test_compressed_lists_roundtrip(self, six_index, six_oracle):
        from bayesian_bm25_spark.kernel.postings_codec import decode_posting_list

        oracle, _ = six_oracle
        for r in six_index.posting_lists.collect():
            d, t, i = decode_posting_list(bytes(r["payload"]))
            expect = oracle._impacts[r["term"]]
            assert r["df"] == len(expect) == len(d)
            assert list(d) == sorted(expect.keys())
            np.testing.assert_allclose(i, [expect[x] for x in d], rtol=1e-12)

    def test_block_max_dominates(self, six_index):
        joined = (
            six_index.postings.alias("p")
            .join(six_index.block_max.alias("b"), "term")
            .where(F.col("p.impact") > F.col("b.block_max_impact") + 1e-12)
        )
        # every posting's impact ≤ its term's max block impact for some block;
        # stronger per-block check runs in the zipf test below
        maxes = six_index.block_max.groupBy("term").agg(F.max("block_max_impact").alias("m"))
        viol = (
            six_index.postings.join(maxes, "term")
            .where(F.col("impact") > F.col("m") + 1e-12)
            .count()
        )
        assert viol == 0

    def test_resume_from_checkpoint(self, spark, six_index, tmp_path):
        # a fresh build over the same path must reuse checkpoints (no pages needed)
        idx2 = load_index(spark, six_index.path)
        assert idx2.n_docs == 6
        assert idx2.params.alpha == six_index.params.alpha
        assert idx2.postings.count() == six_index.postings.count()

        # an index written before the build-path options were removed
        # still loads: its params.json config carries their keys
        import json
        import shutil

        removed = dict(
            mapside_partials=True, checkpoint_segments=False,
            fused_term_artifacts=True, local_tf=True,
            broadcast_vocab_max=0, n_salts=8,
        )
        assert IndexConfig.from_dict(
            {**IndexConfig().to_dict(), **removed}
        ) == IndexConfig()
        old_path = str(tmp_path / "old_idx")
        shutil.copytree(six_index.path, old_path)
        with open(f"{old_path}/params.json") as f:
            meta = json.load(f)
        meta["config"].update(removed)
        with open(f"{old_path}/params.json", "w") as f:
            json.dump(meta, f)
        old = load_index(spark, old_path)
        assert old.config == six_index.config
        assert old.params == six_index.params
        assert old.postings.count() == six_index.postings.count()
        assert old.posting_lists.count() == six_index.posting_lists.count()


class TestQuerySixDocs:
    def test_rank_identical_topk(self, six_index, six_oracle):
        oracle, params = six_oracle
        queries = [q for q in SIX_DOC_QUERIES if q]
        qdf = queries_to_df(six_index.spark, queries)
        got = Q.retrieve(
            six_index.postings, qdf, six_index.params, six_index.avgdl, k=6
        ).collect()
        ids, scores = oracle.retrieve(queries, k=6)
        by_query: dict[int, list] = {}
        for r in got:
            by_query.setdefault(int(r["query_id"]), []).append(r)
        for qi, q in enumerate(queries):
            rows = sorted(by_query.get(qi, []), key=lambda r: r["rank"])
            expect = [(int(d), float(s)) for d, s in zip(ids[qi], scores[qi]) if s > 0]
            assert [int(r["doc_id"]) for r in rows] == [d for d, _ in expect], q
            for r, (_, s) in zip(rows, expect):
                assert r["score"] == pytest.approx(s, rel=1e-9)

    def test_probabilities_match_oracle(self, six_index, six_oracle):
        oracle, params = six_oracle
        queries = [["cat"], ["dog"], ["machine", "learning"]]
        qdf = queries_to_df(six_index.spark, queries)
        got = Q.get_probabilities(
            six_index.postings, qdf, six_index.params, six_index.avgdl
        ).collect()
        for r in got:
            qi, did = int(r["query_id"]), int(r["doc_id"])
            s = oracle.get_scores(queries[qi])
            tf = len(set(queries[qi]) & set(tokenize(SIX_DOCS[did])))
            expect = six_index.params.score_to_probability(
                s[did], tf, oracle.doc_lengths[did] / oracle.avgdl
            )
            assert r["probability"] == pytest.approx(expect, rel=1e-9), (qi, did)

    def test_empty_and_oov_queries_return_nothing(self, six_index):
        qdf = queries_to_df(six_index.spark, [[], ["xyznonexistent"]])
        got = Q.retrieve(six_index.postings, qdf, six_index.params, six_index.avgdl)
        assert got.count() == 0

    def test_dense_probabilities_zero_fill(self, six_index):
        qdf = queries_to_df(six_index.spark, [["cat"]])
        dense = Q.get_probabilities(
            six_index.postings,
            qdf,
            six_index.params,
            six_index.avgdl,
            all_docs=six_index.doc_stats,
        ).collect()
        assert len(dense) == 6
        probs = {int(r["doc_id"]): float(r["probability"]) for r in dense}
        assert probs[3] == 0.0  # "hello world" has no "cat"
        assert probs[0] > 0.0

    def test_duplicate_query_terms_double_score(self, six_index, six_oracle):
        oracle, _ = six_oracle
        qdf = queries_to_df(six_index.spark, [["cat", "cat"]])
        got = Q.score_queries(six_index.postings, qdf).collect()
        for r in got:
            assert r["score"] == pytest.approx(
                2 * oracle._impacts["cat"][int(r["doc_id"])], rel=1e-12
            )

    def test_threshold_retrieve_safe(self, six_index, six_oracle):
        oracle, _ = six_oracle
        qdf = queries_to_df(six_index.spark, [["cat"], ["xyznonexistent"]])
        thr = 0.2
        got = Q.retrieve_threshold(
            six_index.postings,
            qdf,
            six_index.term_stats,
            six_index.params,
            six_index.avgdl,
            threshold=thr,
        ).collect()
        # exhaustive answer for comparison
        full = Q.with_probability(
            Q.score_queries(six_index.postings, qdf), six_index.params, six_index.avgdl
        ).collect()
        expect = {(r["query_id"], r["doc_id"]) for r in full if r["probability"] >= thr}
        assert {(r["query_id"], r["doc_id"]) for r in got} == expect


class TestZipfCorpus:
    """Seeded Zipf corpus at 1k docs: distributed build vs local oracle."""

    N_DOCS = 1000

    @pytest.fixture(scope="class")
    def zipf(self, spark, tmp_path_factory):
        path = str(tmp_path_factory.mktemp("idx_zipf"))
        pages = generate_pages(spark, self.N_DOCS, seed=42, num_partitions=8)
        idx = build_index(
            spark, pages, path, IndexConfig(base_rate="auto", base_rate_method="mixture")
        )
        rows = generate_rows_local(self.N_DOCS, seed=42)
        oracle = BM25Oracle()
        oracle.index([tokenize(r["text"]) for r in rows])
        return idx, oracle, rows

    def test_generator_deterministic_vs_local(self, zipf):
        idx, oracle, rows = zipf
        # byte-identical text per url between distributed and local generation
        got = {r["url"]: r["text"] for r in idx.spark.read.parquet(
            f"{idx.path}/docs"
        ).select("url", F.concat_ws(" ", "tokens").alias("text")).collect()}
        for r in rows[:50]:
            assert got[r["url"]] == r["text"]

    def test_corpus_stats(self, zipf):
        idx, oracle, _ = zipf
        assert idx.n_docs == oracle.n_docs
        assert idx.avgdl == pytest.approx(oracle.avgdl, rel=1e-12)

    def test_rank_identical_retrieval(self, zipf):
        idx, oracle, _ = zipf
        queries = generate_queries(self.N_DOCS, seed=42, n_queries=25)
        qdf = queries_to_df(idx.spark, queries)
        got = Q.retrieve(idx.postings, qdf, idx.params, idx.avgdl, k=10)
        by_query: dict[int, list] = {}
        for r in got.collect():
            by_query.setdefault(int(r["query_id"]), []).append(r)
        ids, scores = oracle.retrieve(queries, k=10)
        for qi in range(len(queries)):
            rows = sorted(by_query.get(qi, []), key=lambda r: r["rank"])
            expect = [(int(d), float(s)) for d, s in zip(ids[qi], scores[qi]) if s > 0]
            assert [int(r["doc_id"]) for r in rows] == [d for d, _ in expect], queries[qi]
            for r, (_, s) in zip(rows, expect):
                assert r["score"] == pytest.approx(s, rel=1e-9)

    def test_params_match_oracle(self, zipf):
        idx, oracle, rows = zipf
        corpus = [tokenize(r["text"]) for r in rows]
        pq = sample_pseudo_query_scores(oracle, corpus)
        a, b = estimate_alpha_beta(pq)
        br = estimate_base_rate(pq, oracle.n_docs, "mixture")
        assert idx.params.alpha == pytest.approx(a, rel=1e-9)
        assert idx.params.beta == pytest.approx(b, rel=1e-9)
        assert idx.params.base_rate == pytest.approx(br, rel=1e-6)

    def test_block_max_per_block_dominance(self, zipf):
        idx, _, _ = zipf
        # blocks are doc-index ranges: block_id = doc_id // block_size
        with_block = idx.postings.withColumn(
            "block_id", (F.col("doc_id") / idx.config.block_size).cast("long")
        )
        viol = (
            with_block.join(idx.block_max, ["term", "block_id"])
            .where(F.col("impact") > F.col("block_max_impact") + 1e-12)
            .count()
        )
        assert viol == 0
        # and every posting is covered by exactly its block's row
        uncovered = (
            with_block.join(idx.block_max, ["term", "block_id"], "left_anti").count()
        )
        assert uncovered == 0

    def test_wand_bound_safety(self, zipf):
        idx, oracle, _ = zipf
        bounds = Q.term_wand_bounds(idx.term_stats, idx.params)
        queries = generate_queries(self.N_DOCS, seed=7, n_queries=5)
        single = [[q[0]] for q in queries]
        qdf = queries_to_df(idx.spark, single)
        probs = Q.with_probability(
            Q.score_queries(idx.postings, qdf), idx.params, idx.avgdl
        ).collect()
        ub = {r["term"]: r["wand_ub"] for r in bounds.collect()}
        for r in probs:
            term = single[int(r["query_id"])][0]
            assert r["probability"] <= ub[term] + 1e-12


class TestMaxScore:
    """MaxScore pruned retrieval must be rank- and score-identical to the
    exhaustive plan."""

    def test_six_docs_identical(self, six_index):
        queries = [["cat"], ["dog"], ["machine", "learning"], ["cat", "cat"]]
        qdf = queries_to_df(six_index.spark, queries)
        exhaustive = Q.retrieve(
            six_index.postings, qdf, six_index.params, six_index.avgdl, k=4
        ).collect()
        pruned = Q.retrieve_maxscore(
            six_index.postings, qdf, six_index.term_stats,
            six_index.params, six_index.avgdl, k=4,
        ).collect()
        key = lambda r: (r["query_id"], r["rank"])
        e = {key(r): (r["doc_id"], r["score"], r["probability"]) for r in exhaustive}
        p = {key(r): (r["doc_id"], r["score"], r["probability"]) for r in pruned}
        assert e == p

    def test_retrieve_auto_routes_and_is_identical(self, six_index, monkeypatch):
        """retrieve_auto = cost-based routing; results identical on both
        routes (the routes themselves are rank-identical, so routing
        never changes answers)."""
        queries = [["cat"], ["machine", "learning"]]
        qdf = queries_to_df(six_index.spark, queries)
        base = Q.retrieve(
            six_index.postings, qdf, six_index.params, six_index.avgdl, k=3
        ).collect()
        key = lambda r: (r["query_id"], r["rank"])
        want = {key(r): (r["doc_id"], r["score"]) for r in base}
        for threshold in (10**9, 0):  # exhaustive route, maxscore route
            monkeypatch.setattr(Q, "_MAXSCORE_MIN_DOCS", threshold)
            got = Q.retrieve_auto(
                six_index.postings, qdf, six_index.term_stats,
                six_index.params, six_index.avgdl, n_docs=six_index.n_docs,
                k=3,
            ).collect()
            assert {key(r): (r["doc_id"], r["score"]) for r in got} == want

    @pytest.fixture(scope="class")
    def zipf_idx(self, spark, tmp_path_factory):
        path = str(tmp_path_factory.mktemp("idx_zipf_ms"))
        pages = generate_pages(spark, 1000, seed=42, num_partitions=8)
        return build_index(
            spark, pages, path, IndexConfig(base_rate="auto", build_compressed=False)
        )

    def test_zipf_identical_and_prunes(self, zipf_idx):
        idx = zipf_idx
        queries = generate_queries(1000, seed=123, n_queries=30)
        qdf = queries_to_df(idx.spark, queries)
        exhaustive = Q.retrieve(idx.postings, qdf, idx.params, idx.avgdl, k=10).collect()
        pruned = Q.retrieve_maxscore(
            idx.postings, qdf, idx.term_stats, idx.params, idx.avgdl,
            k=10,
        ).collect()
        key = lambda r: (r["query_id"], r["rank"])
        e = {key(r): (r["doc_id"], round(r["score"], 9)) for r in exhaustive}
        p = {key(r): (r["doc_id"], round(r["score"], 9)) for r in pruned}
        assert e == p


class TestAssignDocIds:
    """Rank-identity of the distributed (no-global-window) id assignment."""

    def test_identical_to_global_window_rank(self, spark):
        from pyspark.sql import Window

        from bayesian_bm25_spark.operators.index_build import assign_doc_ids

        pages = generate_pages(spark, 500, seed=3, num_partitions=8).drop("doc_id")
        got = {
            r["url"]: r["doc_id"]
            for r in assign_doc_ids(pages).select("url", "doc_id").collect()
        }
        want = {
            r["url"]: r["doc_id"]
            for r in pages.withColumn(
                "doc_id", F.row_number().over(Window.orderBy("url")).cast("long") - 1
            ).select("url", "doc_id").collect()
        }
        assert got == want

    def test_start_id_offsets_the_range(self, spark):
        from bayesian_bm25_spark.operators.index_build import assign_doc_ids

        pages = generate_pages(spark, 50, seed=5, num_partitions=4)
        ids = sorted(
            r["doc_id"] for r in assign_doc_ids(pages, start_id=1000).collect()
        )
        assert ids == list(range(1000, 1050))

    def test_no_unpartitioned_window_in_build_plan(self, spark):
        from bayesian_bm25_spark.operators.index_build import tokenize_pages

        pages = generate_pages(spark, 100, seed=1, num_partitions=4).drop("doc_id")
        plan = tokenize_pages(pages)._jdf.queryExecution().executedPlan().toString()
        assert "Window" not in plan


class TestRobertsonPrunedPaths:
    """Robertson idf is negative for df > ~N/2, which invalidates the
    MaxScore/threshold bound math — the pruned paths must detect it (via
    term_stats.min_impact) and stay exact by routing to the exhaustive
    plan (ADVICE r01)."""

    @pytest.fixture(scope="class")
    def rob_index(self, spark, tmp_path_factory):
        # "common" appears in 8/10 docs → df > N/2 → negative robertson idf
        texts = [
            f"common filler{i % 3} rare{i} tail{i * 7 % 5}" if i < 8 else f"rare{i} only special{i}"
            for i in range(10)
        ]
        pages = spark.createDataFrame(
            [(i, f"https://x.test/{i}", t, "en") for i, t in enumerate(texts)],
            "doc_id long, url string, text string, lang string",
        )
        path = str(tmp_path_factory.mktemp("idx_rob"))
        return build_index(
            spark, pages, path,
            IndexConfig(method="robertson", base_rate=0.05, alpha=1.0, beta=1.0,
                        build_compressed=False),
        )

    def test_min_impact_is_negative(self, rob_index):
        mn = rob_index.term_stats.agg(F.min("min_impact")).collect()[0][0]
        assert mn < 0.0

    def test_maxscore_exact_despite_negative_impacts(self, rob_index):
        idx = rob_index
        queries = [["common", "rare3"], ["common"], ["rare9", "common", "filler1"]]
        qdf = queries_to_df(idx.spark, queries)
        exhaustive = Q.retrieve(idx.postings, qdf, idx.params, idx.avgdl, k=5).collect()
        pruned = Q.retrieve_maxscore(
            idx.postings, qdf, idx.term_stats, idx.params, idx.avgdl, k=5
        ).collect()
        key = lambda r: (r["query_id"], r["rank"])
        e = {key(r): (r["doc_id"], round(r["score"], 9)) for r in exhaustive}
        p = {key(r): (r["doc_id"], round(r["score"], 9)) for r in pruned}
        assert e == p

    def test_threshold_complete_despite_negative_impacts(self, rob_index):
        idx = rob_index
        qdf = queries_to_df(idx.spark, [["common", "rare3"], ["common"]])
        thr = 0.05
        got = Q.retrieve_threshold(
            idx.postings, qdf, idx.term_stats, idx.params, idx.avgdl, threshold=thr
        ).collect()
        full = Q.with_probability(
            Q.score_queries(idx.postings, qdf), idx.params, idx.avgdl
        ).collect()
        expect = {(r["query_id"], r["doc_id"]) for r in full if r["probability"] >= thr}
        assert {(r["query_id"], r["doc_id"]) for r in got} == expect

    def test_pruned_paths_raise_without_sign_witness(self, rob_index):
        """Without ``min_impact`` and without ``impacts_nonnegative`` the
        impact sign is unknown: both pruned paths must refuse rather than
        prune over (here negative) robertson impacts."""
        idx = rob_index
        qdf = queries_to_df(idx.spark, [["common", "rare3"], ["common"]])
        stats = idx.term_stats.drop("min_impact")
        with pytest.raises(ValueError, match="min_impact"):
            Q.retrieve_maxscore(
                idx.postings, qdf, stats, idx.params, idx.avgdl, k=5
            )
        with pytest.raises(ValueError, match="min_impact"):
            Q.retrieve_threshold(
                idx.postings, qdf, stats, idx.params, idx.avgdl, threshold=0.05
            )
