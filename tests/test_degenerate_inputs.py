"""Degenerate-input robustness across operator families.

Round-3 ADVICE found pmi_collocations crashing on single-token/empty/null
docs (sequence(1, size-1) DESCENDS to [1,0] and indexes out of bounds under
ANSI mode) because every test corpus was well-formed. This suite runs each
text/dedup/curation/graph/ANN operator against the corpora a 100 TB crawl
actually contains — empty tables, empty strings, nulls, single tokens,
whitespace-only — and asserts they neither raise nor emit junk rows for the
degenerate docs. Catching this class locally is cheap; catching it on a
1000-executor run is not.
"""

import pytest
from pyspark.sql import functions as F

DOC_SCHEMA = "doc_id long, text string"

# (name, rows) — every text operator must survive all of these
CORPORA = [
    ("empty_table", []),
    ("empty_string", [(1, "")]),
    ("null_text", [(1, None)]),
    ("single_token", [(1, "lonely")]),
    ("whitespace", [(1, " ")]),
    ("mixed", [(1, ""), (2, None), (3, "one"), (4, "two tokens"),
               (5, "   "), (6, "a normal looking document with several tokens")]),
    # multi-byte text, combining marks, emoji, RTL, and one absurdly long
    # token — regexp/substring/shingle paths must be byte-safety-agnostic
    ("unicode", [(1, "naïve café résumé"), (2, "数据 去重 流水线 测试"),
                 (3, "🙂🚀 emoji 🧪 mix"), (4, "مرحبا بالعالم"),
                 (5, "x" * 20000), (6, "á combining mark")]),
]


def _docs(spark, rows):
    return spark.createDataFrame(rows, DOC_SCHEMA)


def _run(df):
    """Force full execution."""
    return df.collect()


class TestTextStatsDegenerate:
    @pytest.mark.parametrize("name,rows", CORPORA, ids=[c[0] for c in CORPORA])
    def test_all_textstats(self, spark, name, rows):
        from knowledgegraphbuilder_spark.operators.textstats import (
            bigram_perplexity,
            fingerprint,
            language_id,
            pmi_collocations,
            quality_score,
            tfidf_topk,
            token_counts,
        )

        docs = _docs(spark, rows)
        for op in (language_id, quality_score, token_counts, fingerprint):
            _run(op(docs))
        _run(tfidf_topk(docs, k=2))
        _run(pmi_collocations(docs, min_count=1, k=2))
        _run(bigram_perplexity(docs))


class TestDedupDegenerate:
    @pytest.mark.parametrize("name,rows", CORPORA, ids=[c[0] for c in CORPORA])
    def test_text_dedup(self, spark, name, rows):
        from knowledgegraphbuilder_spark.operators.dedup import (
            exact_duplicates,
            minhash_lsh_pairs,
            ngram_containment_pairs,
            ngram_jaccard_pairs,
            simhash_pairs,
        )

        docs = _docs(spark, rows)
        _run(exact_duplicates(docs))
        _run(ngram_jaccard_pairs(docs, threshold=0.5, k=3))
        _run(minhash_lsh_pairs(docs, threshold=0.5, k=3))
        _run(simhash_pairs(docs))
        _run(ngram_containment_pairs(docs, threshold=0.5, k=3))

    def test_embedding_dedup_empty_and_tiny(self, spark):
        from knowledgegraphbuilder_spark.operators.dedup import (
            embedding_cosine_pairs,
            embedding_cosine_pairs_lsh,
            semantic_dedup,
        )

        schema = "vec_id long, embedding array<float>"
        for rows in ([], [(1, [0.0] * 8)], [(1, [1.0] + [0.0] * 7), (2, [1.0] + [0.0] * 7)]):
            emb = spark.createDataFrame(rows, schema)
            _run(embedding_cosine_pairs(emb, threshold=0.9))
            _run(embedding_cosine_pairs_lsh(emb, threshold=0.9, dim=8))
            _run(semantic_dedup(emb, threshold=0.9, centroid_stride=2))


class TestCurationDegenerate:
    @pytest.mark.parametrize("name,rows", CORPORA, ids=[c[0] for c in CORPORA])
    def test_curation_ops(self, spark, name, rows):
        from knowledgegraphbuilder_spark.operators.curation import (
            decontaminate,
            pack_sequences,
            pii_stats,
            quality_filter,
            repetition_stats,
            stratified_split,
            substring_dup_stats,
        )

        docs = _docs(spark, rows)
        _run(substring_dup_stats(docs, k=3))
        _run(decontaminate(docs, docs.limit(1), k=3))
        _run(repetition_stats(docs, n=2))
        _run(quality_filter(docs))
        _run(pii_stats(docs))
        _run(pack_sequences(docs, seq_len=8, n_shards=2))
        _run(stratified_split(docs.withColumn("lang", F.lit("en"))))


class TestGraphDegenerate:
    def test_graph_ops_on_empty_and_tiny_edge_lists(self, spark):
        from knowledgegraphbuilder_spark.operators.graphstats import (
            bfs_hops,
            harmonic_centrality,
            hits_scores,
            k_core,
            label_propagation,
            link_prediction,
            sssp_hops,
            triangle_clustering,
        )

        schema = "src string, dst string, weight long"
        for rows in ([], [("a", "b", 1)], [("a", "a", 1)]):
            edges = spark.createDataFrame(rows, schema)
            seeds = spark.createDataFrame([("a",)], "node string")
            _run(triangle_clustering(edges))
            _run(k_core(edges, k=2))
            _run(label_propagation(edges, rounds=2))
            _run(hits_scores(edges, rounds=2))
            _run(harmonic_centrality(edges, seeds, max_hops=2))
            _run(link_prediction(edges, max_hub_degree=5, top_n=5))
            _run(bfs_hops(edges, seeds, max_hops=2))
            _run(sssp_hops(edges, seeds, rounds=2))

    def test_cc_and_canonicalize_empty(self, spark):
        from knowledgegraphbuilder_spark.operators.canonicalize import (
            connected_components,
        )

        edges = spark.createDataFrame([], "src string, dst string")
        _run(connected_components(edges))


class TestAnnDegenerate:
    def test_ann_empty_corpus_and_zero_vectors(self, spark):
        from knowledgegraphbuilder_spark.operators.ann import (
            ann_ivf,
            ann_lsh,
            topk_bruteforce,
        )

        schema = "vec_id long, embedding array<float>"
        q = [0.5] * 8
        for rows in ([], [(1, [0.0] * 8)]):
            emb = spark.createDataFrame(rows, schema)
            _run(topk_bruteforce(emb, q, k=3))
            _run(ann_lsh(emb, q, k=3, dim=8))
            _run(ann_ivf(emb, q, k=3, centroid_stride=2))


class TestKgPipelineDegenerate:
    def test_full_kg_chain_survives_degenerate_docs(self, spark):
        """The spans->triples chain (flatten, chunk, NER, interval join, RE,
        canonicalize, graph build) must survive a corpus whose docs are
        empty, null, whitespace-only, or single-token — and still extract
        from the one well-formed doc."""
        from knowledgegraphbuilder_spark.config import KGConfig
        from knowledgegraphbuilder_spark.plans.checkpoint import run_pipeline
        from knowledgegraphbuilder_spark.sources.interleaved import synthesize_spans

        docs = spark.createDataFrame(
            [(1, ""), (2, None), (3, "lonely"), (4, " "),
             (5, "the customer sent a spark stream to the table "
                 "while the vector index stayed warm")],
            "doc_id long, text string",
        )
        res = run_pipeline(synthesize_spans(docs), KGConfig())
        triples = res.triples.collect()
        # doc 5 contains gazetteer surface forms -> at least one triple
        assert len(triples) > 0
        assert all(t["subj"] is not None and t["obj"] is not None
                   for t in triples)

    def test_empty_corpus_yields_empty_graph(self, spark):
        from knowledgegraphbuilder_spark.config import KGConfig
        from knowledgegraphbuilder_spark.plans.checkpoint import run_pipeline
        from knowledgegraphbuilder_spark.sources.interleaved import synthesize_spans

        docs = spark.createDataFrame([], "doc_id long, text string")
        res = run_pipeline(synthesize_spans(docs), KGConfig())
        assert res.triples.count() == 0
        assert res.nodes.count() == 0


class TestRound4OperatorsDegenerate:
    @pytest.mark.parametrize("name,rows", CORPORA, ids=[c[0] for c in CORPORA])
    def test_substring_rewrite(self, spark, name, rows):
        from knowledgegraphbuilder_spark.operators.curation import (
            substring_dedup_rewrite,
        )

        out = _run(substring_dedup_rewrite(_docs(spark, rows), k=3))
        assert len(out) == len(rows)  # every doc survives, possibly emptied
        for r in out:
            assert r["n_removed"] >= 0 and r["clean_text"] is not None

    @pytest.mark.parametrize("name,rows", CORPORA, ids=[c[0] for c in CORPORA])
    def test_profile_table(self, spark, name, rows):
        from knowledgegraphbuilder_spark.operators.profile import profile_table

        out = _run(profile_table(_docs(spark, rows)))
        # empty table -> no rows (nothing to profile); else one per column
        assert len(out) == (0 if not rows else 2)

    @pytest.mark.parametrize("name,rows", CORPORA, ids=[c[0] for c in CORPORA])
    def test_temperature_sample(self, spark, name, rows):
        from knowledgegraphbuilder_spark.operators.curation import temperature_sample

        docs = _docs(spark, rows).withColumn(
            "lang", F.when(F.col("doc_id") % 2 == 0, "en")
        )  # odd doc_ids get NULL lang — dropped by the stratum join, not a crash
        out = _run(temperature_sample(docs, alpha=0.3, target_frac=1.0))
        assert all(r["rate"] is not None for r in out)

    def test_modularity_empty_edges(self, spark):
        from knowledgegraphbuilder_spark.operators.graphstats import modularity

        edges = spark.createDataFrame([], "src string, dst string")
        comm = spark.createDataFrame([("a", "c1")], "node string, community string")
        rows = _run(modularity(edges, comm))
        assert rows[0]["q"] == 0.0 and rows[0]["deg_sum"] == 0

    def test_anf_empty_and_selfloop(self, spark):
        from knowledgegraphbuilder_spark.operators.graphstats import anf_hyperball

        empty = spark.createDataFrame([], "src string, dst string")
        rows = _run(anf_hyperball(empty, max_hops=2))
        assert all(r["n_nodes"] == 0 and r["anf_micro"] == 0 for r in rows)
        loop = spark.createDataFrame([("a", "a"), ("a", "b")], "src string, dst string")
        rows = _run(anf_hyperball(loop, max_hops=1))
        assert all(r["anf_micro"] >= 0 for r in rows)

    def test_biased_walks_dead_end_seed(self, spark):
        from knowledgegraphbuilder_spark.operators.graphstats import biased_walks

        edges = spark.createDataFrame([("a", "b")], "src string, dst string")
        seeds = spark.createDataFrame([("zz",)], "node string")  # isolated
        rows = _run(biased_walks(edges, seeds, length=3))
        assert rows == [("zz", 0, "zz")] or [
            (r["seed"], r["step"], r["node"]) for r in rows
        ] == [("zz", 0, "zz")]

    def test_recall_and_pair_metrics_empty_inputs(self, spark):
        from knowledgegraphbuilder_spark.operators import ann as ann_ops
        from knowledgegraphbuilder_spark.operators import dedup as dd

        empty_rank = spark.createDataFrame(
            [], "query_id string, id string, score double, rank int"
        )
        assert _run(ann_ops.recall_at_k(empty_rank, empty_rank)) == []
        empty_pairs = spark.createDataFrame([], "id_a long, id_b long, jaccard double")
        row = _run(dd.pair_metrics(empty_pairs, empty_pairs))[0]
        assert (row["n_gold"], row["precision"], row["recall"], row["f1"]) == (0, 0.0, 0.0, 0.0)


class TestTranche55Degenerate:
    def test_edge_cut_and_lp_eval_empty(self, spark):
        from knowledgegraphbuilder_spark.operators.graphstats import lp_rank_eval
        from knowledgegraphbuilder_spark.operators.layout import edge_cut_stats

        empty = spark.createDataFrame([], "src string, dst string")
        assert edge_cut_stats(empty, k=4).collect() == []
        row = lp_rank_eval(empty).collect()[0]
        # empty agg: counts 0, metric sums NULL on both engines (no ANSI
        # divide-by-zero — the numerator is already NULL)
        assert (row["n_test"], row["n_ranked"], row["mrr"]) == (0, 0, None)

    def test_lp_eval_no_test_edges(self, spark):
        from knowledgegraphbuilder_spark.operators.graphstats import lp_rank_eval

        one = spark.createDataFrame([("a", "b")], "src string, dst string")
        row = lp_rank_eval(one, holdout_mod=10**9).collect()[0]
        assert (row["n_test"], row["n_ranked"]) == (0, 0)

    def test_from_ntriples_empty_and_optional_empty_graph(self, spark):
        from knowledgegraphbuilder_spark.operators.bgp import optional_match
        from knowledgegraphbuilder_spark.operators.rdfio import from_ntriples

        assert from_ntriples(
            spark.createDataFrame([], "nt string")).count() == 0
        t = spark.createDataFrame([], "subj string, pred string, obj string")
        assert optional_match(
            t, [("?a", "p", "?b")], [("?b", "q", "?c")]).count() == 0

    def test_entity_profile_empty(self, spark):
        from knowledgegraphbuilder_spark.operators.graph_build import entity_profile

        t = spark.createDataFrame(
            [], "subj string, pred string, obj string, doc_id string"
        )
        assert entity_profile(t).collect() == []
